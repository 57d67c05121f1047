package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.CacheScope.ScopedDataset
import graft.sources.Tables

/** CoreOps slice of [[Relational]].
  *
  * TPC-H headline shapes (q1-q22) and the core operator surface:
  * joins of every flavor, the aggregation framework (distinct,
  * rollup/cube/grouping sets, sketches), windows, top-k, set ops,
  * and scalar/date/JSON functions.
  *
  * Mixin slice (r13 verdict item 3): the former 8.3k-line
  * Relational.scala is split into themed trait files mixed back into
  * the single `object Relational`, so every bare-name cross-reference
  * and external `Relational.x` usage is unchanged, and member
  * initialization order (traits in declaration order, then the object
  * body's registry) matches the original textual order exactly.
  * Bare `private` members are widened to `private[operators]` so
  * cross-slice references keep resolving.
  */
private[operators] trait RelationalCoreOps extends Serializable { this: Relational.type =>


  /** Order-insensitive exact sum of a double column: cast to decimal,
    * sum exactly, cast back. */
  private[operators] def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  /** [[dsum]] for BOUNDED-GROUP sums of small values: input precision
    * 8 keeps the sum's result type at decimal(18, scale), inside
    * Spark's compact-long Decimal representation — the decimal(30,·)
    * default widens the sum to decimal(38,·), which allocates a
    * JavaBigDecimal per aggregate update (measured at the 100× staged
    * corpus, OPTIMIZATION_r19.md: 9.9–30.7 s vs 6.4–9.5 s for q18's
    * per-order quantity aggregate). Caller contract: values must fit
    * decimal(8−scale integer digits) and GROUP sums must fit
    * decimal(18−scale) — per-key aggregates of quantity-class
    * columns, never corpus-global money sums. The exact sum (and
    * hence the final double) is identical to dsum's wherever the
    * contract holds, so oracle hashes are unchanged. */
  private[operators] def dsumCompact(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(8, scale))).cast("double")

  private[operators] def ts(s: String): Column = to_timestamp(lit(s))

  // ---- TPC-H-shaped headline queries -------------------------------

  /** Q1 shape: scan-heavy single-table aggregation. */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("2000-12-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** Q3 shape: 3-way join + agg + deterministic top-10. */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1998-01-01"))
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1998-01-01"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** Q5 shape: 6-way join through the dimension chain; dims broadcast. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
    val l = Tables.lineitem(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
  }

  /** Q7 shape: two-nation volume shipping — the double-dimension join
    * (supplier nation AND customer nation) plus a symmetric OR
    * predicate, grouped by year. Both nation dims broadcast; the
    * fact-side chain shuffles only on its join keys. */
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir).select(
      col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    Tables.supplier(spark, dir)
      .join(Tables.lineitem(spark, dir), col("s_suppkey") === col("l_suppkey"))
      .join(Tables.orders(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
  }

  /** Q10 shape: returned-item reporting — 4-way join, one quarter of
    * orders, revenue per customer, deterministic top-20. */
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1996-04-01"))
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    Tables.customer(spark, dir)
      .join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** Q4 shape: order-priority checking — date-sliced orders semi-joined
    * to a filtered fact (EXISTS), counted per priority. The semi-join
    * shuffles only (orderkey) from the fact side; at 100 TB the date
    * slice prunes partitions before anything joins. */
  def q4Priority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-07-01") && col("o_orderdate") < ts("1996-10-01"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select("l_orderkey")
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** Q6 shape: forecasting revenue change — pure filter + single
    * global aggregate. The whole query is one codegen'd scan stage:
    * every predicate reaches PushedFilters, the projection is two
    * columns, and the agg is partial+final with a 1-row final. */
  def q6Forecast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"))

  /** Q18 shape: large-volume customers — a HAVING-filtered fact
    * aggregation joined back to its parents, deterministic top-100.
    * The having filter runs on the aggregated (tiny) side, so the
    * join-back is broadcast-able at any scale where "large volume" is
    * selective. */
  def q18Volume(spark: SparkSession, dir: String): DataFrame = {
    // dsumCompact: l_quantity is 2-decimal and < 10⁴, per-order sums
    // < 10¹⁴ at any plausible order width — the r19 ScaleLab x100
    // superlinear finding was this aggregate's decimal(38) buffer
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(dsumCompact(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150.0)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** Q12 shape: conditional aggregation after a fact-fact join —
    * per line status, how many lines belong to high- vs low-priority
    * orders in one shipping year. The CASE sums fold into one
    * partial+final aggregate; the join shuffles on the order key
    * (both sides fact-sized — the shape AQE skew-handles at scale). */
  def q12Priority(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  /** Q14 shape: promo revenue share — a ratio of two conditional
    * decimal-exact sums over one lineitem⋈part join (part broadcasts).
    * Both sums ride one partial+final aggregate; the division of the
    * two exact-decimal-derived doubles is a single exactly-rounded
    * IEEE op, so the ratio hash-matches cross-engine. */
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-07-01"))
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)), 6).as("promo_revenue"),
        dsum(rev, 6).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (col("promo_revenue") / col("total_revenue") * 100.0).as("promo_pct"))
  }

  /** Q19 shape: disjunctive multi-attribute predicate (OR of ANDs
    * spanning both join sides). Catalyst extracts the common
    * single-side conjuncts from the OR and pushes them below the join
    * (p_size ≤ 15, l_quantity ≤ 30 reach the scans), keeping the
    * cross-side residual on the join — the pushdown pattern naive
    * planners miss entirely. */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(count(lit(1)).as("n_lines"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))

  /** Q22 shape: anti-join + scalar aggregate subquery — dormant
    * valuable customers: above-average positive balance and no order
    * since 1998, per market segment (every fixture customer has SOME
    * order, so the classic "no orders at all" form would gate zero
    * rows — the recency predicate keeps the identical plan shape with
    * a non-vacuous result). The average arrives as a one-value scalar
    * subquery (driver metadata, no join shape); the dormancy test is
    * a left-anti join on the customer key against the filtered
    * orders. Cross-engine determinism: the mean is compared as the
    * exact DECIMAL sum cast to double divided by the exact count —
    * both single exactly-rounded ops. */
  def q22Balance(spark: SparkSession, dir: String): DataFrame = {
    SqlViews.withViews(spark,
      "customer" -> Tables.customer(spark, dir),
      "orders" -> Tables.orders(spark, dir))(
      """WITH avg_bal AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) / count(*) AS a
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT a FROM avg_bal)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY c_mktsegment""".stripMargin)
  }

  /** Q2 shape (adapted — the fixture has no partsupp): cheapest part
    * per type via a CORRELATED scalar-min subquery, TPC-H Q2's
    * defining plan feature. Catalyst decorrelates it into an
    * aggregate + self-join on p_type (no per-row re-execution); the
    * min over stored doubles is exact, so the equality filter is
    * cross-engine deterministic. */
  def q2MinCost(spark: SparkSession, dir: String): DataFrame =
    SqlViews.withViews(spark, "part" -> Tables.part(spark, dir))(
      Q2Sql)

  /** Q8 shape: national market share — one nation's fraction of a
    * region's import volume per year. The ratio divides two
    * decimal-exact conditional sums from ONE partial+final aggregate;
    * both nation dims and the region-filtered customer-nation list
    * broadcast. */
  def q8MktShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val suppNation = Tables.nation(spark, dir).select(
      col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val asiaNations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nkey"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= ts("1996-01-01") &&
            col("o_orderdate") < ts("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(asiaNations), col("c_nationkey") === col("c_nkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((dsum(when(col("supp_nation") === "NATION_1", rev).otherwise(lit(0.0)), 6)
        / dsum(rev, 6)).as("mkt_share"))
  }

  /** Q9 shape: product-type profit by supplier nation and year — the
    * 5-way join through a name-pattern part filter (the filtered part
    * dim broadcasts; profit omits supplycost the fixture lacks). */
  def q9Profit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter(col("p_name").contains("red"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("profit"))

  /** Q11 shape (adapted — no partsupp): per-part revenue for one
    * nation's suppliers, kept only where it exceeds a FRACTION of the
    * nation's total — the scalar-subquery threshold over the same
    * aggregation tree that defines Q11. Share thresholds are
    * scale-free (numerator and denominator both grow linearly), so
    * the shape stays selective at any SF. */
  def q11Important(spark: SparkSession, dir: String): DataFrame =
    SqlViews.withViews(spark,
      "lineitem" -> Tables.lineitem(spark, dir),
      "supplier" -> Tables.supplier(spark, dir),
      "nation"   -> Tables.nation(spark, dir))(
      Q11Sql)

  /** Q13 shape: customer order-count distribution — the left outer
    * join with a predicate INSIDE the join (customers with zero
    * qualifying orders must survive into the c_count = 0 bucket),
    * then a second aggregation over the first. */
  def q13CustDist(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** Q15 shape: top supplier by revenue — the revenue view joined
    * against its own maximum. The max arrives as a 1-row broadcast
    * (never a second shuffle of the view); equality over
    * decimal-exact-derived doubles is deterministic. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("total_revenue"))
    Tables.supplier(spark, dir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(rev.agg(max(col("total_revenue")).as("mx"))),
        col("total_revenue") === col("mx"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** Q16 shape: distinct supplier counts per part attribute triple —
    * COUNT(DISTINCT) under a multi-attribute dimension filter (the
    * expand+two-phase distinct aggregation path). */
  def q16PartSupp(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  /** Q17 shape: small-quantity revenue — the per-part CORRELATED
    * average subquery (Catalyst decorrelates to an aggregate +
    * join). The threshold `0.2 × avg` is one IEEE multiply of the
    * exact decimal-sum-over-exact-count quotient, deterministic
    * cross-engine. */
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame =
    SqlViews.withViews(spark,
      "lineitem" -> Tables.lineitem(spark, dir),
      "part"     -> Tables.part(spark, dir))(
      Q17Sql)

  /** Q20 shape (adapted): suppliers with above-average shipment
    * quantity of a name-pattern part family in one year — the
    * IN-subquery over a HAVING-filtered aggregation (plans as a
    * left-semi join against the aggregated side). The per-supplier
    * AVERAGE is scale-free, so the HAVING stays selective at any
    * SF. */
  def q20Promotion(spark: SparkSession, dir: String): DataFrame =
    SqlViews.withViews(spark,
      "supplier" -> Tables.supplier(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "part"     -> Tables.part(spark, dir))(
      Q20Sql)

  /** Q21 shape (adapted — lateness re-expressed against a fixed
    * cutoff since the fixture has no commit/receipt dates): suppliers
    * who shipped late on multi-supplier finished orders where NO
    * other supplier shipped late — EXISTS + NOT EXISTS on the same
    * fact (a left-semi and a left-anti join on l_orderkey),
    * deterministic top-10. */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame =
    SqlViews.withViews(spark,
      "supplier" -> Tables.supplier(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "orders"   -> Tables.orders(spark, dir))(
      Q21Sql)

  // ---- core operator surface ---------------------------------------

  /** Pushed-down filter + narrow projection: the scan must show
    * PushedFilters and a 4-column ReadSchema (plan-gated) — the
    * baseline "read less" operator every 100 TB query starts from. */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 30 && col("l_discount") > 0.05 && col("l_returnflag") === "R")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))

  /** Fact ⋈ two broadcast dimension tables (nation, region) then a
    * rollup — zero wide shuffles for the dimensions at any scale. */
  def joinBroadcastDims(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))

  private[operators] def bigOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_totalprice") > 400000)

  /** LEFT SEMI join — existence filter (customers WITH a big order);
    * shuffles only the key column, never duplicates rows. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(bigOrders(spark, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  /** LEFT ANTI join — the negative existence filter (customers with
    * NO big order), the dual of [[joinSemi]]. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(bigOrders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** LEFT join preserving orderless customers, then a per-customer
    * rollup; nulls fold to zero so the output is null-free gated. */
  def joinLeftAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spend"))

  /** FULL OUTER join — the one join type the registry lacked: two
    * keyed daily aggregates whose key sets genuinely diverge (days
    * with only urgent or only high-priority orders orphan on either
    * side), coalesced to a null-free comparison table. The aggregate-
    * then-join shape keeps both inputs |days|-sized regardless of
    * order volume; at 100 TB the join is two tiny sides meeting after
    * their partial+final rollups. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    def daily(prio: String, out: String): DataFrame =
      Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === prio)
        .groupBy(col("o_orderdate").as("day"))
        .agg(count(lit(1)).as(out))
    daily("1-URGENT", "n_urgent")
      .join(daily("2-HIGH", "n_high"), Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_urgent"), lit(0L)).as("n_urgent"),
        coalesce(col("n_high"), lit(0L)).as("n_high"))
  }

  /** Multi-column exact COUNT DISTINCT per group — expand-based
    * distinct aggregation with partial+final combine. */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** ROLLUP hierarchy (flag → flag+status → grand total) in one
    * pass — the expand operator emits all grouping levels map-side. */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))

  /** CUBE over (status, priority) — all four grouping-set levels in
    * one expand+aggregate pass, no re-scan per level. */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))

  /** GROUPING SETS — only expressible through the SQL surface (the
    * DataFrame API stops at rollup/cube); same SQL text runs on both
    * engines. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    // per-column grouping() flags, composed into an explicit bit
    // vector — the unambiguous cross-engine form of grouping_id()
    // (whose implicit bit order is engine-defined)
    SqlViews.withViews(spark, "lineitem" -> Tables.lineitem(spark, dir))(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
  }

  /** Correlated scalar subquery (SQL surface): biggest order per
    * customer, 0 when none. Catalyst decorrelates this into an
    * aggregate + left join — same plan shape as joinLeftAgg. */
  def subqueryScalar(spark: SparkSession, dir: String): DataFrame = {
    SqlViews.withViews(spark,
      "customer" -> Tables.customer(spark, dir),
      "orders" -> Tables.orders(spark, dir))(
      """SELECT c_custkey,
        |  COALESCE((SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey), 0.0) AS max_order
        |FROM customer""".stripMargin)
  }

  /** Correlated EXISTS / NOT EXISTS — the other half of the subquery
    * surface next to [[subqueryScalar]]. Expressed as the joins
    * Catalyst compiles EXISTS to (left-semi + left-anti on the
    * correlation key), so the plan is exactly the distributed shape a
    * 100 TB run wants: two hash joins keyed on `o_custkey`, never a
    * per-row subquery re-execution. Both probes scan `orders` with
    * the predicate pushed beneath the join (urgent-only / big-F-only),
    * so each semi/anti build side is a filtered fraction of the fact
    * table, and AQE is free to broadcast it when small. */
  def subqueryExists(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val bigF = o.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 300000.0)
      .select(col("o_custkey"))
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .join(bigF, c("c_custkey") === bigF("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  /** ntile/percent_rank/cume_dist over keyed partitions — rank-family
    * window functions sharing ONE exchange + sort per key. */
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
  }

  /** Top-3-per-key via rank(): the WindowGroupLimit pushdown must
    * prune below the window (plan-gated) instead of ranking all rows. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 3)
  }

  /** Running per-customer spend — cumulative decimal sum over an
    * unbounded-preceding ROWS frame (exact, order-insensitive). */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(30, 4))).over(w)
          .cast("double").as("running_spend"))
  }

  /** Time-RANGE window frame — the interval-bounded sliding aggregate
    * (RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) the
    * ROWS-frame queries can't express: each event's trailing-hour
    * activity per user, frame edges defined by TIME distance, not row
    * count. RANGE frames are deterministic under tied timestamps by
    * construction (all peers share one frame), so no tiebreak column
    * is needed. One exchange on user_id + one in-partition sort; the
    * frame evaluation is a per-partition two-pointer pass, so a bot
    * user with 10⁹ events streams through the sort spill path rather
    * than materializing. Decimal sum: exact and order-insensitive,
    * identical across engines (values are 2-decimal currency). */
  def windowRange(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        expr("CAST(sum(CAST(value AS DECIMAL(30,4))) OVER " +
          "(PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) " +
          "AS DOUBLE)").as("trail_sum"),
        expr("count(*) OVER " +
          "(PARTITION BY user_id ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)")
          .as("trail_n"))

  /** Explicit window FRAMES — the frame-spec surface the other window
    * rows don't exercise: first/last value over one-sided unbounded
    * frames and a 3-row moving sum (ROWS BETWEEN 2 PRECEDING AND
    * CURRENT ROW, the moving-average primitive). Decimal sum for the
    * moving frame (exact, order-insensitive); unique-key tiebreak
    * makes every frame deterministic. All four functions share one
    * keyed sort — a single exchange, the compact_latest shape. */
  def windowFrames(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wFirst = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLast = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wMov = ord.rowsBetween(-2, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(wFirst).as("first_price"),
        last(col("o_totalprice")).over(wLast).as("last_price"),
        sum(col("o_totalprice").cast(DecimalType(30, 4))).over(wMov)
          .cast("double").as("moving3_sum"))
  }

  /** lag(1) previous-order price per customer — the offset window
    * primitive behind every delta/gap feature. */
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
  }

  /** Global top-100 by price — must plan as TakeOrderedAndProject
    * (per-partition heaps + driver merge), never a full sort. */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private[operators] def custkeysOfYear(spark: SparkSession, dir: String, year: Int): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts(s"$year-01-01") && col("o_orderdate") < ts(s"${year + 1}-01-01"))
      .select("o_custkey")

  /** UNION DISTINCT of two yearly key sets — one hash-distinct
    * exchange over the concatenated inputs. */
  def setUnion(spark: SparkSession, dir: String): DataFrame =
    custkeysOfYear(spark, dir, 1995).union(custkeysOfYear(spark, dir, 1996)).distinct()

  /** INTERSECT (distinct) of two yearly key sets — planned as a
    * left-semi aggregate, not a join explosion. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame =
    custkeysOfYear(spark, dir, 1995).intersect(custkeysOfYear(spark, dir, 1996))

  /** EXCEPT (distinct) — keys active in 1995 but not 1996; the
    * left-anti dual of [[setIntersect]]. */
  def setExcept(spark: SparkSession, dir: String): DataFrame =
    custkeysOfYear(spark, dir, 1995).except(custkeysOfYear(spark, dir, 1996))

  /** Multiset (ALL) variants: [[custkeysOfYear]] is a BAG — one row
    * per order — so multiplicities matter: a customer with 3 orders
    * in 1995 and 1 in 1996 survives EXCEPT ALL twice and INTERSECT
    * ALL once. Spark plans both as a count-per-row aggregate +
    * Generate replay (no join explosion); the shuffle carries
    * (key, count), same as the DISTINCT forms. */
  def setExceptAll(spark: SparkSession, dir: String): DataFrame =
    custkeysOfYear(spark, dir, 1995).exceptAll(custkeysOfYear(spark, dir, 1996))

  /** INTERSECT ALL — multiset intersection with multiplicities
    * min(l, r); see [[setExceptAll]] for the bag semantics note. */
  def setIntersectAll(spark: SparkSession, dir: String): DataFrame =
    custkeysOfYear(spark, dir, 1995).intersectAll(custkeysOfYear(spark, dir, 1996))

  /** Scalar string-function surface (upper/substring/length/concat_ws/
    * regexp_replace) — all codegen built-ins, zero UDFs. */
  def scalarString(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        substring(col("p_name"), 1, 5).as("prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("novowels"))

  /** Scalar date-function surface (year/month/day/date_trunc/datediff)
    * on the order-date column — integral outputs, cross-engine exact. */
  def scalarDate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01")))
          .cast("long").as("days_since"))

  /** Scalar math-function surface (floor/ceil/abs/sqrt/products) —
    * codegen built-ins over lineitem prices. */
  def scalarMath(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        (col("l_quantity") * col("l_quantity")).as("qty_sq"))

  /** argmax/argmin aggregates (`max_by`/`min_by`): WHICH row holds
    * the extreme, not the extreme itself — the lookup that otherwise
    * costs a self-join or a window. Ordering key is a struct
    * (price, orderkey, linenumber): lexicographic, and the id tail
    * makes it strictly unique, so ties cannot make the answer
    * engine-dependent (bare max_by on a non-unique key is
    * nondeterministic by contract). Oracle replays via a rank-1
    * window on the same composite order. */
  def aggArgmax(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        max_by(col("l_orderkey"),
          struct(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
          .as("priciest_order"),
        min_by(col("l_orderkey"),
          struct(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
          .as("cheapest_order"),
        max(col("l_extendedprice")).as("max_price"),
        min(col("l_extendedprice")).as("min_price"))

  /** Schema-drift union: two generations of the same table (an old
    * extract missing a column, a new one carrying it) combined with
    * `unionByName(allowMissingColumns)` — the ingestion-side sibling
    * of FormatsSpec's read-side mergeSchema. Position-based union
    * would silently misalign columns; by-name union fills the
    * missing column with NULL. Disjoint halves by key parity keep
    * the result reconciliation-friendly. */
  def unionDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val oldGen = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val newGen = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    oldGen.unionByName(newGen, allowMissingColumns = true)
  }

  /** Forward-fill (`last(..., ignoreNulls)` over an ordered window) —
    * the timeseries repair primitive: 'view' events have their value
    * masked to NULL, then each row takes the most recent non-null
    * value for its user. Scale shape: one exchange on user + a
    * spilling ordered window — the sessionize shape; the frame is
    * unbounded-preceding..current, which Spark evaluates in one
    * running pass, not O(n²). */
  def forwardFill(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") =!= "view", col("value")).as("v_sparse"))
      .withColumn("v_filled", last(col("v_sparse"), ignoreNulls = true).over(w))
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): plain
    * `=` drops NULL keys from BOTH sides silently — the classic
    * silent-data-loss bug when a nullable dimension key joins. Keys
    * with residue 3 are nulled on each side via nullif, sides are
    * pre-aggregated (so the join is 8×8 keys, not row-level
    * fan-out), and the NULL buckets must MATCH under `<=>`. Plan
    * note: null-safe equi-keys still hash-partition (Spark wraps the
    * key in a null-safe struct), so this stays a real equi-join, not
    * a BNLJ. */
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    def keyed(df: DataFrame, c: String) =
      df.select(nullif(col(c) % 7, lit(3)).as("key"))
        .groupBy("key").agg(count(lit(1)).as("n"))
    val o = keyed(Tables.orders(spark, dir), "o_custkey")
      .withColumnRenamed("n", "n_orders")
    val cu = keyed(Tables.customer(spark, dir), "c_custkey")
      .withColumnRenamed("n", "n_customers")
    o.join(cu, o("key") <=> cu("key"))
      .select(o("key").as("key"), col("n_orders"), col("n_customers"))
  }

  /** ANSI-safe scalar family: `try_divide` / `try_cast` return NULL
    * on failure instead of erroring the job — at 100 TB a single
    * malformed cell must not kill a 1000-executor stage (the scalar
    * counterpart of the PERMISSIVE-ingest contract in FormatsSpec).
    * Planted failure cases: division by a zero derived from data,
    * non-numeric and overflowing casts. */
  def scalarTry(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // zero for every third line ⇒ NULL there, real ratio elsewhere
        expr("try_divide(l_extendedprice, l_linenumber % 3)").as("per_mod"),
        expr("try_cast(l_linestatus AS DOUBLE)").as("instr_num"), // never numeric ⇒ NULL
        // integral-valued quantities ⇒ no trunc-vs-round ambiguity
        expr("try_cast(l_quantity AS TINYINT)").as("qty_i8"),
        // digits + trailing junk fails the parse in BOTH engines
        expr("try_cast(concat(CAST(l_linenumber AS STRING), 'x') AS BIGINT)").as("junk_num"))

  /** ANSI-safe AGGREGATION beside [[scalarTry]]'s scalars: `try_sum`
    * keeps a group's aggregate NULL-tolerant the way `try_divide`
    * keeps a row's expression — malformed cells become NULLs, NULLs
    * fall out of the sum, the job survives. The summed column rides
    * an integral try_cast, so the accumulation is exact BIGINT in
    * both engines (the order-sensitive-double trap aggStats
    * documents); the mean is derived as ONE double division on
    * identical operands rather than avg()'s engine-specific
    * accumulator. */
  def scalarTryAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        // rows whose try_divide survived (every third line nulls out)
        count(expr("try_divide(l_extendedprice, l_linenumber % 3)")).as("n_ok"),
        expr("try_sum(try_cast(l_quantity AS TINYINT))").cast("long").as("sum_qty"))
      .select(col("l_returnflag"), col("n"), col("n_ok"), col("sum_qty"),
        (col("sum_qty") / col("n")).as("mean_qty"))

  /** Bivariate statistics — corr / covar_samp / regr_slope — via
    * exact decimal moment sums, the [[aggStats]] discipline extended
    * to cross-moments: Spark's native `corr` (and DuckDB's)
    * accumulates doubles in partition order and is not reproducible
    * across engines; Σx, Σy, Σx², Σy², Σxy in DECIMAL are, and the
    * closing formulas are the same handful of IEEE ops on identical
    * operands in both engines. One partial+final aggregation. */
  def aggCorr(spark: SparkSession, dir: String): DataFrame = {
    // DECIMAL(12,4): wide enough for both columns (qty ≤ 51, price
    // < 1e8), narrow enough that the cross-product stays inside
    // DuckDB's 38-digit multiply (18,4 squared overflowed its int64
    // physical type there)
    val x = col("l_quantity").cast(DecimalType(12, 4))
    val y = col("l_extendedprice").cast(DecimalType(12, 4))
    val n = count(lit(1))
    // each moment sum is FLOORED to a whole number before the double
    // cast: a 23-significant-digit decimal rounds to double
    // differently across engines (measured: ULP diffs in syy), while
    // an integer < 2^53 casts losslessly in both. floor, not a
    // decimal→decimal cast — Spark's cast rounds half-up where
    // DuckDB's truncates (measured: 2.7 → 3 vs 2); floor is
    // identical on the all-positive moments
    def mom(c: Column): Column = floor(c).cast("double")
    val sx = mom(sum(x)); val sy = mom(sum(y))
    val sxx = mom(sum(x * x)); val syy = mom(sum(y * y))
    val sxy = mom(sum(x * y))
    val covN = n * sxy - sx * sy // n²·covar — shared numerator
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        n.as("n"),
        (covN / (n * (n - lit(1)))).as("covar"),
        (covN / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("corr"),
        (covN / (n * sxx - sx * sx)).as("slope"))
  }

  /** Deterministic MODE per group — most frequent event_type per
    * user, ties to the lexicographically smallest value (a mode
    * without a stated tie rule is nondeterministic under
    * partitioning, which is why Spark's own `mode` aggregate is
    * unsuitable for a gated row). One partial+final count shuffle,
    * then a WindowGroupLimit rank cut: the per-user event history
    * never concentrates in one task. */
  def aggMode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("c").desc, col("event_type").asc)
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_event"), col("c").as("n"))
  }

  /** Relative-position window functions: percent_rank + cume_dist
    * over a unique total order (price, then key — an explicit
    * tiebreak, or both functions are partition-order-dependent).
    * Each emits one double from identical integral operands
    * ((rank-1)/(n-1), rows≤cur/n), so the gate is hash-exact. */
  def windowPercent(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
  }

  /** Moment statistics with exact decimal accumulation: plain
    * stddev/var aggregates accumulate doubles in partition order and
    * are not reproducible across engines; sum and sum-of-squares in
    * decimal are, and the final double arithmetic is identical on both
    * sides. */
  def aggStats(spark: SparkSession, dir: String): DataFrame = {
    val qd = col("l_quantity").cast(DecimalType(18, 4))
    val n = count(lit(1))
    val sumD = sum(qd).cast("double")
    val sumSqD = sum(qd * qd).cast("double")
    val varSamp = (sumSqD - sumD * sumD / n) / (n - lit(1))
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        n.as("n"),
        (sumD / n).as("mean_qty"),
        varSamp.as("var_qty"),
        sqrt(varSamp).as("stddev_qty"))
  }

  /** JSON extraction surface — get_json_object / from_json over the
    * events payload column, all codegen built-ins. */
  def jsonEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** HLL++ approximate distinct counts — the sketch an exact
    * countDistinct can't afford at 100 TB (no per-key state, one pass,
    * mergeable). DuckDB's HLL register layout differs, so the sketch
    * VALUE can't be replayed — instead the gated row carries the exact
    * counts (oracle-checkable) plus a within-2%-envelope flag per
    * sketch. HLL++ is deterministic for a given input (fixed hash,
    * merge = register-wise max, order-insensitive), so the flag is
    * stable across runs/partitionings, and the oracle asserting
    * `1` means "the sketch landed inside its error envelope"
    * — a real gate on the operator, not just row counts.
    *
    * The envelope is 3σ of the configured rsd (0.01 → 3%): HLL++'s
    * rsd is ONE standard error, so gating at 2σ (2%) would make the
    * flag a coin-flip-adjacent bet at any new scale factor or fixture
    * even when the sketch meets its design spec; 3σ holds with
    * ~99.7%-per-key headroom while still catching a broken sketch
    * (which is off by far more than 3%).
    *
    * The sketches run in their own aggregate, joined to the exact pair
    * on the flag: two exact distincts in one aggregate plan an Expand,
    * and HLL++ buffers sharing that aggregate are allocated for every
    * expanded group (an sf0.1 probe, fully materialized: 112 s mixed
    * against 1.0 s exact-only and 2.1 s HLL-only). PlanAuditSpec pins
    * that no HLL++ aggregate sits above an Expand. */
  def aggApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    def inEnvelope(approx: Column, exact: Column): Column =
      (abs(approx.cast("double") - exact) <= exact * 0.03).cast("long")
    val li = Tables.lineitem(spark, dir)
    val exact = li.groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    val sketch = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"))
    exact.join(sketch, "l_returnflag")
      .select(col("l_returnflag"), col("n_parts"), col("n_orders"),
        inEnvelope(col("ap"), col("n_parts")).as("parts_in_3sig"),
        inEnvelope(col("ao"), col("n_orders")).as("orders_in_3sig"))
  }

  /** KMV distinct-count sketch (k=64) — the oracle-checkable sketch:
    * the hash is the first 15 md5 hex chars of the key rendered as a
    * string (60 bits, positive), which DuckDB computes byte-identically,
    * and the estimator is plain integer-to-double arithmetic — so the
    * whole sketch (bounded k-heap, merges, estimator) is hash-gated by
    * the SQL replay, unlike HLL whose register layout is
    * implementation-specific. See KmvSketchAgg for the scale notes. */
  def aggKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    def h60(c: Column): Column =
      conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10).cast("long")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        graft.functions.KmvSketchAgg.kmv_distinct(h60(col("l_partkey")), 64).as("est_parts"),
        graft.functions.KmvSketchAgg.kmv_distinct(h60(col("l_orderkey")), 64).as("est_orders"))
  }

  /** KMV set algebra — the audience-overlap query (|A ∪ B|, |A ∩ B|
    * of distinct-user sets) from MERGEABLE sketches, the capability
    * that makes distinct-set analytics composable at 100 TB: each
    * set's bottom-k sketch is built in one partial+final pass, a
    * UNION sketch is just the bottom-k of the combined hash stream
    * (here: one conditional aggregate over the same scan — no second
    * pass), and the intersection estimate falls out by
    * inclusion–exclusion. One scan computes all nine sketches (three
    * singles + three pair-unions) as conditional aggregates —
    * adding set expressions widens the aggregate row, never adds a
    * pass. Same md5-60-bit hash domain as `agg_kmv_distinct`, so the
    * WHOLE estimate chain (hash, bottom-64, (k−1)·2⁶⁰/h_k, the
    * exact-regime n<k short-circuit, and the inclusion–exclusion
    * arithmetic) replays bit-for-bit in DuckDB — the estimates are
    * hash-gated, not envelope-gated. */
  def kmvSetOps(spark: SparkSession, dir: String): DataFrame = {
    def h60(c: Column): Column =
      conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10).cast("long")
    val h = h60(col("user_id"))
    def est(cond: Column) =
      graft.functions.KmvSketchAgg.kmv_distinct(when(cond, h), 64)
    val t = col("event_type")
    val pairs = Seq(("click", "view"), ("click", "purchase"), ("view", "purchase"))
    val singles = Seq("click", "view", "purchase")
    val aggs =
      singles.map(a => est(t === a).as(s"e_$a")) ++
        pairs.map { case (a, b) => est(t.isin(a, b)).as(s"u_${a}_$b") }
    Tables.events(spark, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${pairs.size}, " + pairs.map { case (a, b) =>
          s"'$a', '$b', e_$a, e_$b, u_${a}_$b"
        }.mkString(", ") + ") AS (type_a, type_b, est_a, est_b, est_union)")
      .withColumn("est_intersect", (col("est_a") + col("est_b")) - col("est_union"))
  }

  /** Quantile sketch gated on its accuracy contract — completes the
    * sketch trio (HLL `agg_approx_distinct`, KMV `agg_kmv_distinct`,
    * and now quantiles). `approx_percentile` (Greenwald-Khanna) has
    * merge-order-dependent outputs, so the estimate itself can't be
    * hash-gated; what IS deterministic is the guarantee: with
    * accuracy = 100 (the value used below) the returned value's RANK
    * must be within n/100 of the target rank. The registered row emits the exact
    * percentiles plus the sketch's rank error in UNITS of that bound
    * (floored — 0 means "inside the guarantee"), checked per group.
    * At 100 TB the sketch is the only viable path (bounded memory,
    * partial+final merge); the exact percentile here is the
    * test-scale referee, same role as countDistinct above. */
  def aggApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    // accuracy=100 keeps the sketch in genuinely-compressed territory
    // at every fixture SF (memory ~ accuracy < group sizes), with a
    // rank-error guarantee of n/100; the +1 covers rank discreteness.
    // The sketch VALUE is merge-order-dependent (can't hash-gate it);
    // the guarantee holding is deterministic — that's what's gated,
    // same structure as the HLL row's 3-sigma flags.
    val acc = 100
    def inEnvelope(approxRank: Column, q: Double, n: Column): Column =
      (abs(approxRank.cast("double") - n.cast("double") * q) <=
        n.cast("double") / acc + 1.0).cast("long")
    val e = Tables.events(spark, dir)
    val ap = e.groupBy("event_type")
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(acc)).as("ap50"),
        percentile_approx(col("value"), lit(0.9), lit(acc)).as("ap90"))
    val exact = e.groupBy("event_type")
      .agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"),
        count(lit(1)).as("n"))
    // referee pass: the approx value's true rank = count(value <= it)
    val joined = e.join(broadcast(ap), "event_type")
      .groupBy("event_type")
      .agg(
        sum((col("value") <= col("ap50")).cast("long")).as("r50"),
        sum((col("value") <= col("ap90")).cast("long")).as("r90"))
      .join(broadcast(exact), "event_type")
    joined.select(col("event_type"), col("p50"), col("p90"), col("n"),
      inEnvelope(col("r50"), 0.5, col("n")).as("p50_in_bound"),
      inEnvelope(col("r90"), 0.9, col("n")).as("p90_in_bound"))
  }

  /** Exact interpolated percentiles — Spark's `percentile` and
    * DuckDB's `quantile_cont` share the (n-1)·q linear-interpolation
    * definition, so values compare exactly. */
  def aggMedian(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.9)).as("p90"),
        count(lit(1)).as("n"))

  /** Leave-one-out target encoding — the supervised categorical
    * encoder ([[featureHash]]'s counterpart when a label exists):
    * each order's priority class is replaced by the mean total price
    * of the OTHER orders in that class, (S_c − xᵢ)/(n_c − 1) — the
    * leave-one-out form that avoids target leakage (a row never sees
    * its own label). Arithmetic is exact: prices land on the integer
    * cent lattice via the embed_q8 tie rule (floor(x·100 + 0.5) —
    * the data is 2-decimal, the half-up nudge absorbs double
    * representation error), class sums take decimal headroom, and
    * the LOO division is integral; only the final /100 display cast
    * is floating.
    * Shape: one partial+final class aggregate (|classes| rows, 5
    * here) broadcast back over the scan — two passes over orders,
    * zero wide shuffles of fact rows. */
  def targetEncode(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as decimal(38,0))").as("xq"))
    val cls = o.groupBy(col("o_orderpriority"))
      .agg(sum(col("xq")).as("sc"), count(lit(1)).as("nc"))
    o.join(broadcast(cls), "o_orderpriority")
      .filter(col("nc") > 1)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("cast((sc - xq) div (nc - 1) as bigint)").as("loo_cents"))
      .withColumn("loo", col("loo_cents") / lit(100.0))
  }

  /** Hashing-trick featurization (Weinberger et al. 2009 — the
    * Vowpal-Wabbit encoding): categorical features hash into a FIXED
    * 64-bucket index space with a ±1 sign bit, so a linear model's
    * input width is constant no matter how many distinct categories
    * appear — the standard way to featurize web-scale categoricals
    * without a vocabulary build. Features here are (event_type ×
    * hour-of-day); index = 16 md5 bits mod 64, sign = an independent
    * md5 nibble's parity (the sign trick keeps collision noise
    * zero-mean). Output is the sparse vector as (user_id, idx, val)
    * rows. Deterministic md5 arithmetic replays exactly in SQL.
    * Shape: per-row hashing rides the scan; one partial+final sum on
    * (user, idx) — at any scale the output is ≤ 64 rows per user. */
  def featureHash(spark: SparkSession, dir: String): DataFrame = {
    val feat = concat(col("event_type"), lit("-"),
      expr("cast((unix_micros(ts) div 3600000000) % 24 as string)"))
    Tables.events(spark, dir)
      .select(col("user_id"), md5(feat.cast("binary")).as("fh"))
      .select(col("user_id"),
        (conv(substring(col("fh"), 1, 4), 16, 10).cast("long") % 64).as("idx"),
        (lit(1L) - lit(2L) * (conv(substring(col("fh"), 5, 1), 16, 10).cast("long") % 2))
          .as("sign"))
      .groupBy(col("user_id"), col("idx"))
      .agg(sum(col("sign")).as("val"))
  }

  /** Exact global quantile-band assignment — (key, band 1..[[RfmBands]])
    * for every row of `df` under the TOTAL order (metric asc, key asc).
    * The band is `((rank−1)·k) div n + 1` over the exact global rank.
    *
    * Scale shape — the reason this is NOT `ntile() OVER ()`: an
    * empty-partitionBy window collapses the whole relation into ONE
    * task, the textbook global-window scale killer. Instead the
    * relation gets a DISTRIBUTED range sort (Spark's orderBy: sampled
    * range boundaries + per-partition sort — the same machinery as
    * sort_export) and `zipWithIndex` stamps contiguous indices per
    * partition with one lightweight count pass. The global index
    * depends only on the total ORDER (the key tie-break makes it
    * unique), never on where the sampled range boundaries land, so
    * the result is deterministic under any partitioning — which is
    * exactly what lets DuckDB replay it with a row_number() window.
    * This is rank-lattice arithmetic: no floats anywhere. */
  private[operators] val RfmBands = 5L

  private[operators] def globalBand(df: DataFrame, metric: String, n: Long,
      band: String, k: Long = RfmBands): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("key"), col(metric).as("m"))
      .orderBy(col("m").asc, col("key").asc)
      .select(col("key")).as[Long]
      .rdd.zipWithIndex()
      .map { case (key, idx) => (key, idx * k / n + 1L) }
      .toDF("key", band)
  }

  /** RFM (recency / frequency / monetary) customer segmentation —
    * THE classic marketing/CRM base-table rollup: per customer, days
    * since last order (vs the corpus's latest order date, so the
    * result is reproducible — wall-clock anchors are banned by the
    * determinism gate), order count, and lifetime spend on the cent
    * lattice; then each metric maps to an exact global quintile band
    * and the three digits concatenate into the familiar 111–555
    * segment code (here band 1 = LOWEST metric value — days, count,
    * cents all ascending — a fixed documented convention).
    *
    * Exactness: recency is whole calendar days (DATE arithmetic,
    * both engines identical under the UTC session), money is
    * `floor(·100 + 0.5)` cents (the target_encode rule), and bands
    * come from [[globalBand]]'s rank lattice — no percentile
    * interpolation, no floats, hash-exact oracle.
    *
    * Scale shape: one partial+final aggregate over orders (fact →
    * |customers| rows), then three DIMENSION-scale distributed sorts
    * (the globalBand note) and three key joins — all on the grouped
    * relation, never the fact table. The date anchor and n are two
    * scalar aggregates to the driver (metadata, the pagerank-N
    * precedent). */
  def rfmSegment(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey").as("key"),
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("od"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("key"))
      .agg(max(col("od")).as("last_od"), count(lit(1)).as("f"),
        sum(col("cents")).as("m_cents"))
      .persistScoped()
    val anchor = per.agg(max(col("last_od"))).head().getLong(0)
    val n = per.count()
    val base = per.select(col("key"), (lit(anchor) - col("last_od")).as("r_days"),
      col("f"), col("m_cents"))
    base
      .join(globalBand(base, "r_days", n, "r_band"), "key")
      .join(globalBand(base, "f", n, "f_band"), "key")
      .join(globalBand(base, "m_cents", n, "m_band"), "key")
      .select(col("key").as("c_custkey"), col("r_days"), col("f"),
        col("m_cents"), col("r_band"), col("f_band"), col("m_band"),
        (col("r_band") * 100L + col("f_band") * 10L + col("m_band")).as("rfm_code"))
  }

  /** Benford's-law expected first-digit shares, log₁₀(1 + 1/d),
    * pre-quantized onto the 2²⁰ lattice (floor(·2²⁰ + 0.5)) so both
    * engines consume the SAME integer constants — computing log10 at
    * runtime would reintroduce exactly the cross-engine ULP drift
    * the lattice rule exists to kill. Single source: the oracle SQL
    * interpolates these literals. */
  private[operators] val BenfordQ: Seq[(Int, Long)] = Seq(
    1 -> 315653L, 2 -> 184645L, 3 -> 131008L, 4 -> 101618L, 5 -> 83028L,
    6 -> 70199L, 7 -> 60809L, 8 -> 53637L, 9 -> 47980L)

  /** Benford first-digit deviation of order totals — the
    * forensic-accounting screen (fabricated or threshold-gamed
    * amounts bend the leading-digit histogram away from
    * log₁₀(1+1/d)): per digit 1–9, observed count, observed share on
    * the 2²⁰ lattice, the quantized Benford expectation, and the
    * absolute deviation — all integers, so the gate is hash-exact.
    * The first digit comes from the CENTS integer's decimal string
    * (identical in both engines; no float log anywhere). The
    * expectation table attaches by a 9-row broadcast join.
    *
    * Scale shape: one narrow scan → partial+final 9-group count;
    * total + expectation are broadcast-size metadata. */
  def benfordDeviation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val exp = BenfordQ.toDF("digit", "benford_q")
    // the 9-row digit histogram feeds BOTH the output and the scalar
    // total — persist it or the total's lineage re-scans the fact
    // table (PlanAuditSpec pins the single scan)
    val g = Tables.orders(spark, dir)
      .select(expr("cast(substring(cast(cast(floor(o_totalprice * 100 + 0.5) as bigint) as string), 1, 1) as int)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .persistScoped()
    val tot = g.agg(sum(col("n")).as("nt"), count(lit(1)).as("nn"))
    ScalarJoin.attachScalar(g, col("n"), tot, col("nn"))
      .join(broadcast(exp), "digit")
      .select(col("digit").cast("long").as("digit"), col("n"),
        expr("cast((cast(n as decimal(38,0)) * 1048576) div nt as bigint)").as("share_q"),
        col("benford_q"))
      .withColumn("dev_q", abs(col("share_q") - col("benford_q")))
  }

  private[operators] def benfordSql: String = {
    s"""WITH exp(digit, benford_q) AS (VALUES
       |  ${BenfordQ.map { case (d, q) => s"($d, CAST($q AS BIGINT))" }.mkString(", ")}),
       |g AS (
       |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
       |    count(*) AS n
       |  FROM orders GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
       |SELECT CAST(g.digit AS BIGINT) AS digit, CAST(n AS BIGINT) AS n,
       |  CAST((CAST(n AS HUGEINT) * 1048576) // (SELECT nt FROM t) AS BIGINT) AS share_q,
       |  benford_q,
       |  abs(CAST((CAST(n AS HUGEINT) * 1048576) // (SELECT nt FROM t) AS BIGINT)
       |      - benford_q) AS dev_q
       |FROM g JOIN exp ON g.digit = exp.digit""".stripMargin
  }

  /** Pareto concentration bands of customer spend — the "what share
    * of revenue rides on the top 20%" rollup that pairs with
    * [[giniSpend]]'s scalar: customers cut into exact spend
    * quintiles (band 5 = top spenders) via the [[rfmSegment]] rank
    * machinery, each band reporting its member count, cents total,
    * revenue share on the 2²⁰ lattice, and the CUMULATIVE-from-the-
    * top share ("band ≥ b holds X of revenue"). The 5-row cumulative
    * is a band≥band self-join over the GROUPED relation — never a
    * global window.
    *
    * Scale shape: fact → |customers| partial+final, one dimension
    * sort, one 5-row rollup; everything after the sort is
    * metadata-sized. */
  def paretoShare(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey").as("key"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("key")).agg(sum(col("cents")).as("x"))
      .persistScoped()
    val n = per.count()
    val bands = per.join(globalBand(per, "x", n, "band"), "key")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_cents"))
      .persistScoped()
    val tot = bands.agg(sum(col("sum_cents").cast(DecimalType(38, 0))).as("t"),
      count(lit(1)).as("nn"))
    val withTot = ScalarJoin.attachScalar(bands, col("n"), tot, col("nn"))
    // band ≥ band as an EQUI join: the 15 admissible (band, b2) pairs
    // are a literal relation (bands are 1..5 by construction), so the
    // cumulative stays a broadcast HASH join — a `>=` join condition
    // would plan the banned BNLJ
    import bands.sparkSession.implicits._
    val pairs = (for { b <- 1L to RfmBands; b2 <- b to RfmBands } yield (b, b2))
      .toDF("band", "b2")
    val cum = broadcast(pairs)
      .join(bands.select(col("band").as("b2"), col("sum_cents").as("sc2")), "b2")
      .groupBy(col("band"))
      .agg(sum(col("sc2").cast(DecimalType(38, 0))).as("cum_cents"))
    withTot.join(broadcast(cum), "band")
      .select(col("band"), col("n"), col("sum_cents"),
        expr("cast((cast(sum_cents as decimal(38,0)) * 1048576) div t as bigint)")
          .as("share_q"),
        expr("cast((cum_cents * 1048576) div t as bigint)").as("cumtop_share_q"))
  }

  private[operators] def paretoSql: String =
    """WITH per AS (
      |  SELECT o_custkey AS key,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM per),
      |b AS (SELECT key, x,
      |        ((row_number() OVER (ORDER BY x, key) - 1) * 5)
      |          // (SELECT n FROM nn) + 1 AS band
      |      FROM per),
      |g AS (SELECT band, count(*) AS n, CAST(sum(x) AS BIGINT) AS sum_cents
      |      FROM b GROUP BY band),
      |t AS (SELECT CAST(sum(sum_cents) AS HUGEINT) AS t FROM g),
      |c AS (SELECT g1.band, CAST(sum(g2.sum_cents) AS HUGEINT) AS cum_cents
      |      FROM g g1 JOIN g g2 ON g2.band >= g1.band GROUP BY g1.band)
      |SELECT g.band, CAST(g.n AS BIGINT) AS n, g.sum_cents,
      |  CAST((CAST(g.sum_cents AS HUGEINT) * 1048576) // (SELECT t FROM t) AS BIGINT) AS share_q,
      |  CAST((c.cum_cents * 1048576) // (SELECT t FROM t) AS BIGINT) AS cumtop_share_q
      |FROM g JOIN c USING (band)""".stripMargin

  /** Lag-7 autocorrelation of daily revenue — the seasonality
    * STRENGTH scalar behind [[seasonalProfile]]'s shape: does this
    * week's daily revenue predict next week's, day for day? Series =
    * per-day revenue in whole $k (cents summed exactly, ONE
    * truncating division — integral, so the lag join is exact);
    * pairs (day, day+7) meet by epoch-day EQUI join (never a global
    * window); the correlation closes over exact integer moment sums
    * via the [[aggCorr]] discipline (decimal accumulation, floor to
    * a < 2⁵³ integer, identical IEEE ops both engines — rev_k ~10⁴
    * keeps sxx well inside the lossless-double range through ~10⁹
    * days or ~10⁶× the per-day revenue).
    *
    * Scale shape: fact folds to |days| rows partial+final FIRST;
    * the self-join and moments are metadata-sized after that. */
  def autocorrLag7(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("day"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("day"))
      .agg(expr("sum(cents) div 100000").as("rev_k"))
      .persistScoped()
    val pairs = daily.select(col("day"), col("rev_k").as("x"))
      .join(daily.select((col("day") - 7L).as("day"), col("rev_k").as("y")), "day")
    def mom(c: Column): Column = floor(c).cast("double")
    val dec = (c: Column) => c.cast(DecimalType(19, 0))
    val n = count(lit(1))
    val sx = mom(sum(dec(col("x")))); val sy = mom(sum(dec(col("y"))))
    val sxx = mom(sum(dec(col("x")) * dec(col("x"))))
    val syy = mom(sum(dec(col("y")) * dec(col("y"))))
    val sxy = mom(sum(dec(col("x")) * dec(col("y"))))
    val covN = n * sxy - sx * sy
    pairs.agg(
      n.as("n_pairs"),
      (covN / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("corr_lag7"),
      (covN / (n * sxx - sx * sx)).as("slope"))
  }

  /** Peak concurrency per user — the classic interval-overlap sweep
    * (max overlapping intervals), each event an open-ended [ts,
    * ts+5 min) activity span: the "how many sessions at once"
    * capacity question. Boundaries (+1 at start, −1 at end) sort per
    * user with ends BEFORE starts at the same instant (half-open
    * semantics: touching intervals don't overlap), a running sum
    * gives the live count, and the row where it peaks is exact and
    * tie-stable — within equal (t, d) runs each prefix value occurs
    * on exactly one row, so min(t at max) is order-independent.
    * Epoch MICROSECONDS throughout (unix_micros / epoch_us —
    * integral; epoch-seconds doubles drift).
    *
    * Scale shape: 2 rows per event, ONE exchange on user_id serving
    * both windows (running sum + per-user max) and the final
    * aggregate; a bot user streams through the sort spill path, never
    * an in-memory buffer. */
  def intervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("s"))
    val bounds = ev.select(col("user_id"), col("s").as("t"), lit(1L).as("d"))
      .unionAll(ev.select(col("user_id"), (col("s") + 300000000L).as("t"),
        lit(-1L).as("d")))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("t").asc, col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("user_id"))
    bounds
      .withColumn("cnt", sum(col("d")).over(wRun))
      .withColumn("mx", max(col("cnt")).over(wAll))
      .filter(col("cnt") === col("mx"))
      .groupBy(col("user_id"))
      .agg(max(col("mx")).as("max_concurrent"), min(col("t")).as("peak_us"))
  }

  /** Join-key skew profile — the diagnostic a 100 TB join runs BEFORE
    * choosing between plain shuffle, salting ([[Reshape.aggSalted]] /
    * `join_salted`) and AQE skew-split: for each candidate key family
    * the row count, distinct-key count, hottest key's frequency, and
    * `skew_q = (max_freq · n_keys · 2²⁰) div n_rows` — the hottest
    * key's multiple of the MEAN key frequency on the lattice (2²⁰ =
    * perfectly uniform; 10·2²⁰ = the hot key is 10× mean and the
    * post-shuffle partition holding it will straggle ~10×). One
    * partial+final count per family, then a 1-row fold — O(families)
    * output at any scale; the hot keys themselves are [[freqTopk]]'s
    * job. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    def family(name: String, keyed: DataFrame): DataFrame =
      keyed.groupBy(col("k")).agg(count(lit(1)).as("f"))
        .agg(sum(col("f")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("f")).as("max_freq"))
        .select(lit(name).as("key_col"), col("n_rows"), col("n_keys"), col("max_freq"),
          expr("(max_freq * n_keys * 1048576) div n_rows").as("skew_q"))
    family("l_partkey", Tables.lineitem(spark, dir).select(col("l_partkey").as("k")))
      .unionAll(family("l_suppkey",
        Tables.lineitem(spark, dir).select(col("l_suppkey").as("k"))))
      .unionAll(family("o_custkey",
        Tables.orders(spark, dir).select(col("o_custkey").as("k"))))
  }
}
