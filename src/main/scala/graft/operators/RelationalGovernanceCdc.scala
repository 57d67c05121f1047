package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.CacheScope.ScopedDataset
import graft.sources.Tables

/** GovernanceCdc slice of [[Relational]].
  *
  * Data governance and change capture: privacy (k-anonymity tier,
  * randomized response, DP histograms), audits, CDC apply/changes,
  * snapshot diff, incremental view maintenance, encoding/profile
  * advisors, bucketed/salted/runtime-filter joins, bloom probes.
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
private[operators] trait RelationalGovernanceCdc extends Serializable { this: Relational.type =>


  /** Shared χ² CTE chain ending in `chi2f(n, rs, cs, chi2_q)` — the
    * [[chi2Independence]]/[[cramersV]] oracles both project it. */
  private[operators] def chi2Ctes: String =
    """cells AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
      |    count(*) AS o
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
      |t AS MATERIALIZED (
      |  SELECT CAST(sum(o) AS BIGINT) AS n,
      |    count(DISTINCT segment) AS rs, count(DISTINCT priority) AS cs
      |  FROM cells),
      |rm AS (SELECT segment, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
      |cm AS (SELECT priority, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |grid AS (
      |  SELECT rm.r, cm.c, coalesce(cells.o, 0) AS o
      |  FROM rm CROSS JOIN cm
      |  LEFT JOIN cells ON cells.segment = rm.segment AND cells.priority = cm.priority),
      |terms AS (
      |  SELECT (CAST(o AS HUGEINT) * o * 1099511627776)
      |         // (CAST(r AS HUGEINT) * c) AS term_q
      |  FROM grid),
      |chi2f AS (
      |  SELECT t.n, t.rs, t.cs,
      |    CAST(greatest((CAST(t.n AS HUGEINT) * (sum(term_q) - 1099511627776))
      |         // 1048576, 0) AS BIGINT) AS chi2_q
      |  FROM terms CROSS JOIN t
      |  GROUP BY t.n, t.rs, t.cs)""".stripMargin

  private[operators] def chi2IndependenceSql: String =
    s"""WITH $chi2Ctes
       |SELECT n, CAST(greatest(rs - 1, 0) * greatest(cs - 1, 0) AS BIGINT) AS df,
       |  chi2_q
       |FROM chi2f""".stripMargin

  private[operators] def cramersVSql: String =
    s"""WITH $chi2Ctes
       |SELECT n, CAST(greatest(rs - 1, 0) * greatest(cs - 1, 0) AS BIGINT) AS df,
       |  CAST(greatest(least(rs - 1, cs - 1), 1) AS BIGINT) AS k, chi2_q,
       |  CAST(chi2_q // (n * greatest(least(rs - 1, cs - 1), 1)) AS BIGINT) AS v2_q,
       |  CASE WHEN chi2_q // (n * greatest(least(rs - 1, cs - 1), 1)) * 100 < 1048576
       |         THEN 'negligible'
       |       WHEN chi2_q // (n * greatest(least(rs - 1, cs - 1), 1)) * 100 < 9437184
       |         THEN 'small'
       |       WHEN chi2_q // (n * greatest(least(rs - 1, cs - 1), 1)) * 4 < 1048576
       |         THEN 'medium'
       |       ELSE 'large' END AS effect
       |FROM chi2f""".stripMargin

  /** Wald-Wolfowitz runs test — "is daily revenue a random sequence
    * around its median, or does it trend/cluster?": the
    * non-parametric randomness screen behind SPC trend rules.
    * Daily order cents fold once to |days| rows; the LOWER MEDIAN is
    * picked under the total order (cents asc, day asc) so both
    * engines select the identical pivot; equal-to-median days drop
    * (the classic treatment — a tie is neither above nor below);
    * runs count via one lag over the day order. The z test keeps
    * exact integers by clearing every denominator: with
    * D = m·(R−1) − 2·n1·n2 (m·(R − E[R])) the 5% two-sided cut
    * (R−E)² > z²·Var becomes D²·(m−1)·10⁴ > 38416·2n1n2·(2n1n2−m)
    * (z² = 3.8416 exactly as 38416/10⁴) — DECIMAL(38) products (D²
    * alone passes 2⁶³ at |days|≈2500). Scale shape: one
    * partial+final fold, then every window/scalar sits on the
    * |days|-bounded relation (fold-below-window class); the median
    * pivot is a driver scalar on that metadata-sized fold. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("day"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("rev"))
      .persistScoped()
    val n = daily.count()
    if (n == 0L)
      return daily.select(col("rev").as("n"), col("rev").as("n1"),
        col("rev").as("n2"), col("rev").as("runs"),
        col("rev").as("reject_05")).limit(0)
    val wMed = Window.orderBy(col("rev").asc, col("day").asc)
    val med = daily.withColumn("rn", row_number().over(wMed))
      .filter(col("rn") === lit(((n + 1) / 2).toInt))
      .select(col("rev")).head().getLong(0)
    val wDay = Window.orderBy(col("day").asc)
    daily.filter(col("rev") =!= med)
      .select(col("day"), (col("rev") > med).cast("long").as("s"))
      .withColumn("prev", lag(col("s"), 1).over(wDay))
      .agg(
        count(lit(1)).as("m"),
        sum(col("s")).as("n1"),
        sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L)).as("runs"))
      .select(col("m").as("n"), col("n1"), (col("m") - col("n1")).as("n2"),
        col("runs"),
        expr("""cast(case when m < 2 then 0
          | when (cast(m as decimal(38,0)) * (runs - 1) - 2 * cast(n1 as decimal(38,0)) * (m - n1))
          |      * (cast(m as decimal(38,0)) * (runs - 1) - 2 * cast(n1 as decimal(38,0)) * (m - n1))
          |      * (m - 1) * 10000
          |      > 38416 * 2 * cast(n1 as decimal(38,0)) * (m - n1)
          |        * (2 * cast(n1 as decimal(38,0)) * (m - n1) - m)
          | then 1 else 0 end as bigint)""".stripMargin).as("reject_05"))
  }

  private[operators] def runsTestSql: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |nn AS (SELECT count(*) AS n FROM daily),
      |med AS (
      |  SELECT rev AS med FROM (
      |    SELECT rev, row_number() OVER (ORDER BY rev ASC, day ASC) AS rn FROM daily) r
      |  CROSS JOIN nn WHERE r.rn = (nn.n + 1) // 2),
      |signs AS (
      |  SELECT day, CASE WHEN rev > med THEN 1 ELSE 0 END AS s
      |  FROM daily CROSS JOIN med WHERE rev <> med),
      |lagged AS (
      |  SELECT s, lag(s, 1) OVER (ORDER BY day ASC) AS prev FROM signs),
      |agg AS (
      |  SELECT count(*) AS m, CAST(sum(s) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END) AS BIGINT) AS runs
      |  FROM lagged)
      |SELECT m AS n, n1, m - n1 AS n2, runs,
      |  CAST(CASE WHEN m < 2 THEN 0
      |    WHEN (CAST(m AS HUGEINT) * (runs - 1) - 2 * CAST(n1 AS HUGEINT) * (m - n1))
      |         * (CAST(m AS HUGEINT) * (runs - 1) - 2 * CAST(n1 AS HUGEINT) * (m - n1))
      |         * (m - 1) * 10000
      |         > 38416 * 2 * CAST(n1 AS HUGEINT) * (m - n1)
      |           * (2 * CAST(n1 AS HUGEINT) * (m - n1) - m)
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_05
      |FROM agg""".stripMargin

  /** Header-vs-lines ledger reconciliation — the two-ledger integrity
    * audit every finance/billing pipeline runs before closing a
    * period ("does each order header total equal the sum of its
    * lines?"), and the CROSS-TABLE tier above [[graft.operators.DataQuality]]'s
    * intra-row rules: per order, header cents vs the summed per-line
    * charge cents (extendedprice·(1−discount)·(1+tax), the TPC-H
    * total-price identity), bucketed exact / within-$1 tolerance /
    * mismatch / no_lines (headers whose lines are missing entirely —
    * the left join keeps them, an inner join would silently pass
    * them). Identical cent lattice and factor order on both engines
    * (left-assoc IEEE double product, then floor(x·100+0.5) — the
    * tableFingerprint rule). Scale shape: ONE partial+final fold of
    * lineitem to |orders| rows, one equi-join on the order key, one
    * |status|-row final fold — no window, no broadcast needed beyond
    * AQE's own choices. */
  def ledgerRecon(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) as bigint)")
          .as("lc"))
      .groupBy(col("okey"))
      .agg(sum(col("lc")).as("line_cents"), count(lit(1)).as("n_lines"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey").as("okey"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("hdr_cents"))
      .join(lines, Seq("okey"), "left")
      .select(col("okey"), col("hdr_cents"),
        coalesce(col("line_cents"), lit(0L)).as("line_cents"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"))
      .withColumn("delta", col("hdr_cents") - col("line_cents"))
      .withColumn("status",
        when(col("n_lines") === 0L, "no_lines")
          .when(col("delta") === 0L, "exact")
          .when(abs(col("delta")) <= 100L, "tolerance")
          .otherwise("mismatch"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(abs(col("delta"))).as("abs_delta_cents"),
        max(abs(col("delta"))).as("max_abs_delta"))
  }

  private[operators] def ledgerReconSql: String =
    """WITH lines AS (
      |  SELECT l_orderkey AS okey,
      |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS line_cents,
      |    count(*) AS n_lines
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o_orderkey AS okey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS hdr_cents,
      |    coalesce(line_cents, 0) AS line_cents,
      |    coalesce(n_lines, 0) AS n_lines
      |  FROM orders LEFT JOIN lines ON o_orderkey = lines.okey),
      |d AS (
      |  SELECT hdr_cents - line_cents AS delta,
      |    CASE WHEN n_lines = 0 THEN 'no_lines'
      |         WHEN hdr_cents - line_cents = 0 THEN 'exact'
      |         WHEN abs(hdr_cents - line_cents) <= 100 THEN 'tolerance'
      |         ELSE 'mismatch' END AS status
      |  FROM j)
      |SELECT status, count(*) AS n_orders,
      |  CAST(sum(abs(delta)) AS BIGINT) AS abs_delta_cents,
      |  CAST(max(abs(delta)) AS BIGINT) AS max_abs_delta
      |FROM d GROUP BY 1""".stripMargin

  /** U-shaped (position-based) multi-touch attribution — the 40/20/40
    * credit model marketing analytics runs beside first/last-touch
    * (which [[graft.operators.StreamOps]]' view→click attribution
    * covers): each user's pre-conversion touch journey (views+clicks
    * before their FIRST purchase, ordered by the (ts, event_id) total
    * order) splits one conversion credit on the 2²⁰ lattice — 40% to
    * first and last touch, the middle 20% divided evenly among
    * interior touches with the truncation dust pinned to the LAST
    * interior touch, so per-user credit sums to exactly 2²⁰ (the
    * abc_class share rule: dust placement is part of the contract,
    * executed in EdgeCaseSpec). Degenerate journeys: 1 touch → full
    * credit, 2 touches → an even split. Scale shape: one |users|-row
    * conversion fold, one equi-join, two windows on the SAME
    * (user_id) key and sort — a single keyed exchange — then a
    * |event_types|-row final fold. */
  def attributionPosition(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val firstPurchase = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("pt"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val wAll = Window.partitionBy(col("user_id"))
    e.filter(col("event_type").isin("view", "click"))
      .join(firstPurchase, Seq("user_id"))
      .filter(col("ts") < col("pt"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("credit_q",
        when(col("n") === 1L, lit(1048576L))
          .when(col("n") === 2L, lit(524288L))
          .when(col("rn") === 1L || col("rn") === col("n"), lit(419430L))
          .otherwise(expr(
            "209716 div (n - 2) + case when rn = n - 1 then 209716 % (n - 2) else 0 end")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("credit_q")).as("credit_sum_q"))
  }

  private[operators] def attributionPositionSql: String =
    """WITH fp AS (
      |  SELECT user_id, min(ts) AS pt FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |t AS (
      |  SELECT e.user_id, e.event_type, e.ts, e.event_id
      |  FROM events e JOIN fp ON e.user_id = fp.user_id
      |  WHERE e.event_type IN ('view', 'click') AND e.ts < fp.pt),
      |r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM t),
      |c AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN n = 1 THEN 1048576
      |         WHEN n = 2 THEN 524288
      |         WHEN rn = 1 OR rn = n THEN 419430
      |         ELSE 209716 // (n - 2)
      |              + CASE WHEN rn = n - 1 THEN 209716 % (n - 2) ELSE 0 END
      |    END AS credit_q
      |  FROM r)
      |SELECT event_type, count(*) AS n_touches,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(sum(credit_q) AS BIGINT) AS credit_sum_q
      |FROM c GROUP BY 1""".stripMargin

  /** Laspeyres price index by ship year — the OLAP-econometrics
    * rollup ("how much did our basket's price level move, holding
    * the basket fixed?") a pricing team tracks per period: per
    * (part, year) the exact unit-price lattice p_q = Σcents div Σqty,
    * base-1995 quantities weight every year's prices, index_q =
    * (Σ p_t·q0)·2²⁰ div (Σ p0·q0) over parts traded in BOTH years
    * (the common-basket rule — a part absent from year t simply
    * leaves the basket, matching the classic matched-model index).
    * The base year indexes to EXACTLY 2²⁰ (numerator ≡ denominator —
    * executed in spec). DECIMAL(38) basket sums (p·q products pass
    * 2⁶³ at warehouse scale). Scale shape: ONE partial+final fold of
    * lineitem to |parts|·|years| rows, a self-join on the part key
    * against the |parts|-row base slice, and a |years|-row final
    * fold. */
  def priceIndex(spark: SparkSession, dir: String): DataFrame = {
    val py = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("pk"),
        expr("cast(year(cast(l_shipdate as date)) as bigint)").as("yr"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"),
        expr("cast(l_quantity as bigint)").as("qty"))
      .groupBy(col("pk"), col("yr"))
      .agg(sum(col("cents")).as("sc"), sum(col("qty")).as("sq"))
      .select(col("pk"), col("yr"), col("sq"),
        expr("sc div greatest(sq, 1)").as("p_q"))
      .persistScoped()
    val base = py.filter(col("yr") === 1995L)
      .select(col("pk"), col("sq").as("q0"), col("p_q").as("p0"))
    py.join(base, Seq("pk"))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_q").cast(DecimalType(38, 0)) * col("q0")).as("num"),
        sum(col("p0").cast(DecimalType(38, 0)) * col("q0")).as("den"))
      .select(col("yr").as("year"), col("n_parts"),
        expr("cast((num * 1048576) div greatest(den, 1) as bigint)").as("laspeyres_q"))
  }

  private[operators] def priceIndexSql: String =
    """WITH py AS (
      |  SELECT l_partkey AS pk, CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sc,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (SELECT pk, yr, sq, sc // greatest(sq, 1) AS p_q FROM py),
      |base AS (SELECT pk, sq AS q0, p_q AS p0 FROM p WHERE yr = 1995)
      |SELECT p.yr AS year, count(*) AS n_parts,
      |  CAST((sum(CAST(p.p_q AS HUGEINT) * base.q0) * 1048576)
      |       // greatest(sum(CAST(base.p0 AS HUGEINT) * base.q0), 1) AS BIGINT) AS laspeyres_q
      |FROM p JOIN base ON p.pk = base.pk
      |GROUP BY p.yr""".stripMargin

  /** Brand-loyalty distribution — the retail-analytics rollup
    * ("how concentrated is each customer's brand spend, and how does
    * that concentration distribute over the base?") behind retention
    * and private-label strategy: per customer the TOP brand's share
    * of their line count on the 2²⁰ lattice (ties break (count desc,
    * brand asc) — the label_prop rule), bucketed into ten loyalty
    * deciles (width 104858 = ⌈2²⁰/10⌉, so a perfect 2²⁰ share lands
    * in decile 9). Scale shape: the 3-way fact join folds ONCE to
    * (customer, brand) counts; the rank, total, and brand-count
    * windows all ride the SAME (cust) exchange; the decile rollup is
    * a |10|-row final fold. */
  def brandLoyalty(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("cust")).orderBy(col("n").desc, col("brand").asc)
    val wc = Window.partitionBy(col("cust"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("cust"), col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .withColumn("tot", sum(col("n")).over(wc))
      .withColumn("nb", count(lit(1)).over(wc))
      .filter(col("rn") === 1)
      .select(col("cust"), col("nb").as("n_brands"),
        expr("(n * cast(1048576 as bigint)) div tot").as("top_share_q"))
      .groupBy(expr("top_share_q div 104858").as("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("n_brands")).as("sum_brands"))
  }

  private[operators] def brandLoyaltySql: String =
    """WITH cb AS (
      |  SELECT o_custkey AS cust, p_brand AS brand, count(*) AS n
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT cust, n,
      |    row_number() OVER (PARTITION BY cust ORDER BY n DESC, brand ASC) AS rn,
      |    sum(n) OVER (PARTITION BY cust) AS tot,
      |    count(*) OVER (PARTITION BY cust) AS nb
      |  FROM cb),
      |top AS (
      |  SELECT cust, nb AS n_brands,
      |    (n * CAST(1048576 AS BIGINT)) // tot AS top_share_q
      |  FROM r WHERE rn = 1)
      |SELECT CAST(top_share_q // 104858 AS BIGINT) AS decile, count(*) AS n_customers,
      |  CAST(sum(n_brands) AS BIGINT) AS sum_brands
      |FROM top GROUP BY 1""".stripMargin

  /** Trailing-7-day modal event type per day — the windowed MODE the
    * window family lacks (window_median covers ordered medians;
    * categorical mode needs a count-then-rank, not a frame): for
    * each active day, the most frequent event type over [day−6, day]
    * with the (count desc, type asc) tie rule. The trailing window
    * is EXPLODED FORWARD (each (day, type, n) fold row contributes
    * to days day..day+6 via `sequence`), turning the range join a
    * naive rolling mode would need into an EQUI join + second fold —
    * shuffle keys only, 7× fan-out of a |days|·|types| folded
    * relation (metadata-scale at any corpus size). Days with no own
    * events don't report (semi-join to the active-day set). */
  def rollingMode(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.events(spark, dir)
      .select(expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint)").as("day"),
        col("event_type"))
      .groupBy(col("day"), col("event_type")).agg(count(lit(1)).as("n"))
      .persistScoped()
    val days = f.select(col("day")).distinct()
      .withColumnRenamed("day", "tday")
    val w = Window.partitionBy(col("tday")).orderBy(col("n7").desc, col("event_type").asc)
    f.select(explode(sequence(col("day"), col("day") + 6)).as("tday"),
        col("event_type"), col("n"))
      .join(days, Seq("tday"))
      .groupBy(col("tday"), col("event_type")).agg(sum(col("n")).as("n7"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("tday").as("day"), col("event_type").as("mode_type"),
        col("n7").as("n_7d"))
  }

  private[operators] def rollingModeSql: String =
    """WITH f AS (
      |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day AS tday FROM f),
      |c AS (
      |  SELECT t.tday, f.event_type, CAST(sum(f.n) AS BIGINT) AS n7
      |  FROM f, unnest(generate_series(f.day, f.day + 6)) AS g(tday)
      |  JOIN days t ON t.tday = g.tday
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT tday, event_type, n7,
      |    row_number() OVER (PARTITION BY tday ORDER BY n7 DESC, event_type ASC) AS rn
      |  FROM c)
      |SELECT tday AS day, event_type AS mode_type, n7 AS n_7d
      |FROM r WHERE rn = 1""".stripMargin

  /** Half-life-decayed engagement score — the recency weighting a
    * growth/ranking pipeline applies so last quarter's activity
    * outweighs last year's, made EXACT where the textbook e^(−λt) is
    * irrational: weight = 2²⁰ >> (age_days div 30) — a step decay
    * that halves every 30 days on the bit lattice (capped at 40
    * halvings; beyond that the weight is already 0), so both engines
    * shift identically and the score is bit-stable. Value enters on
    * the cent lattice; per event type the decayed mass publishes as
    * Σcents·w div 2²⁰ beside the raw mass, and their ratio is the
    * "how alive is this stream" signal. The reference day is the
    * corpus max (a driver scalar on the |days|-bounded fold — the
    * t_closeness metadata rule, empty-guarded). Scale shape: one
    * narrow scan with per-row shift arithmetic, ONE partial+final
    * fold to |event_types| rows; DECIMAL(38) weighted sums. */
  def decayScore(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint)").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
    val mRow = base.agg(max(col("day"))).head()
    if (mRow.isNullAt(0))
      return base.select(col("event_type"), col("day").as("n_events"),
        col("day").as("raw_cents"), col("day").as("decayed_cents")).limit(0)
    val maxDay = mRow.getLong(0)
    base
      .withColumn("w",
        expr(s"shiftright(cast(1048576 as bigint), cast(least(($maxDay - day) div 30, 40) as int))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("raw_cents"),
        expr("cast(sum(cast(cents as decimal(38,0)) * w) div 1048576 as bigint)")
          .as("decayed_cents"))
  }

  private[operators] def decayScoreSql: String =
    """WITH base AS (
      |  SELECT event_type,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |m AS MATERIALIZED (SELECT max(day) AS maxday FROM base),
      |wts AS (
      |  SELECT event_type, cents,
      |    CAST(1048576 AS BIGINT) >> CAST(least((m.maxday - day) // 30, 40) AS INTEGER) AS w
      |  FROM base CROSS JOIN m)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS raw_cents,
      |  CAST(sum(CAST(cents AS HUGEINT) * w) // 1048576 AS BIGINT) AS decayed_cents
      |FROM wts GROUP BY 1""".stripMargin

  /** Parquet bloom-filter write path — the third write-side layout
    * feature beside [[zorderWrite]] (clustering) and
    * [[partitionOverwrite]] (restatement): the export lands with a
    * column bloom filter on `user_id`
    * (`parquet.bloom.filter.enabled#user_id`), the row-group-level
    * skip index a high-cardinality POINT-lookup column wants where
    * min/max stats are useless (user ids are uniform across row
    * groups; a bloom answers "definitely absent" per group without
    * decoding). The registered query re-reads the bloom-equipped
    * export through a selective probe and aggregates — gating that
    * the feature-flagged write path loses nothing and the probe
    * semantics match the fixture directly (the read_corrupt_skip
    * gate shape; the bloom itself is an I/O optimization invisible
    * to results, which is exactly why the gate is content equality).
    * Explicit read schema skips footer inference. */
  def parquetBloom(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.TempDirs.scratch("parquetbloom", dir)
    val done = new java.io.File(s"$out/_staged")
    if (!done.exists) {
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "100000")
        .parquet(s"$out/data")
      done.createNewFile()
    }
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .parquet(s"$out/data")
      .filter(col("user_id") % 97 === 3)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(floor(value * 100 + 0.5) as bigint)")).as("cents"))
  }

  private[operators] def parquetBloomSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM events WHERE user_id % 97 = 3
      |GROUP BY 1""".stripMargin

  /** Randomized-response privatized counting (Warner 1965 — the
    * local-DP mechanism behind RAPPOR-class telemetry) — the
    * RANDOMIZATION tier of the governance family above
    * [[kAnonymity]]/[[tCloseness]]'s static audits: each customer
    * reports their sensitive flag (BUILDING segment) truthfully with
    * p = 3/4 and flipped with p = 1/4 (the coin is a deterministic
    * md5 hex digit — replayable, so the oracle gates the whole
    * mechanism, which real deployments can't do and evals must), and
    * the per-nation estimator de-biases via t = (4·n_priv − n)/2.
    * The DOUBLED estimate (4·n_priv − n) is what's emitted — keeping
    * it integral sidesteps the one real cross-engine trap here
    * (Spark `div` truncates toward zero, DuckDB `//` floors: they
    * disagree on negative odd numerators, and small-n estimates go
    * negative legitimately). n_true rides along as the referee the
    * fixture affords. One narrow scan, one partial+final fold to
    * |nations| rows. */
  def randResponse(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("long").as("nation"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("flag"),
        expr("substring(md5(c_name), 1, 1)").isin("0", "1", "2", "3")
          .cast("long").as("flip"))
      .withColumn("report", expr("cast((flag + flip) % 2 as bigint)"))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n"), sum(col("flag")).as("n_true"),
        sum(col("report")).as("n_priv"))
      .select(col("nation"), col("n"), col("n_true"), col("n_priv"),
        (col("n_priv") * 4L - col("n")).as("est2x"),
        abs(col("n_priv") * 4L - col("n") - col("n_true") * 2L).as("err2x"))

  private[operators] def randResponseSql: String =
    """WITH r AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nation,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS flag,
      |    CASE WHEN substring(md5(c_name), 1, 1) IN ('0','1','2','3')
      |         THEN 1 ELSE 0 END AS flip
      |  FROM customer)
      |SELECT nation, count(*) AS n,
      |  CAST(sum(flag) AS BIGINT) AS n_true,
      |  CAST(sum((flag + flip) % 2) AS BIGINT) AS n_priv,
      |  CAST(sum((flag + flip) % 2) * 4 - count(*) AS BIGINT) AS est2x,
      |  CAST(abs(sum((flag + flip) % 2) * 4 - count(*) - sum(flag) * 2) AS BIGINT) AS err2x
      |FROM r GROUP BY 1""".stripMargin

  /** Central-DP released histogram — the TRUSTED-CURATOR mechanism
    * tier beside [[randResponse]]'s local-DP randomizer: per-nation
    * customer counts released with two-sided geometric noise (the
    * discrete analogue of Laplace; Ghosh–Roughgarden–Sundararajan
    * 2009's universally optimal count mechanism), ONE draw per
    * histogram CELL — not per row, which is what separates the
    * central from the local model. The draw is a deterministic md5
    * slice of the cell key (replayable, the rand_response argument:
    * the oracle gates the mechanism end-to-end, which a production
    * deployment can't and an eval harness must): magnitude = length
    * of the leading-'0' run in an 8-hex-digit slice — exactly
    * geometric, P(m = k) = (15/16)·16⁻ᵏ, i.e. ε = ln 16 (illustrative
    * operating point; production tunes the base) — sign from the 9th
    * digit. Released counts go NEGATIVE legitimately on small cells
    * (post-processing may clamp; the raw mechanism must not — bias).
    * n_true rides along as the referee only the fixture affords.
    * Scale shape: one partial+final fold to |nations| cells; the
    * noise is a per-cell scalar expression on the folded relation. */
  def dpHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_true"))
      .withColumn("h", md5(concat(lit("dpnoise"), col("nation").cast("string"))))
      .select(col("nation"), col("n_true"),
        (when(substring(col("h"), 9, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
          lit(-1L)).otherwise(lit(1L)) *
          length(regexp_extract(substring(col("h"), 1, 8), "^0*", 0)).cast("long"))
          .as("noise"))
      .withColumn("n_released", col("n_true") + col("noise"))
      .withColumn("abs_err", abs(col("noise")))

  private[operators] def dpHistogramSql: String =
    """WITH g AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
      |             count(*) AS n_true
      |           FROM customer GROUP BY 1),
      |h AS (SELECT nation, n_true,
      |        md5('dpnoise' || CAST(nation AS VARCHAR)) AS h FROM g),
      |z AS (SELECT nation, n_true,
      |        (CASE WHEN substring(h, 9, 1) IN ('8','9','a','b','c','d','e','f')
      |              THEN -1 ELSE 1 END)
      |        * length(regexp_extract(substring(h, 1, 8), '^0*')) AS noise
      |      FROM h)
      |SELECT nation, CAST(n_true AS BIGINT) AS n_true,
      |  CAST(noise AS BIGINT) AS noise,
      |  CAST(n_true + noise AS BIGINT) AS n_released,
      |  CAST(abs(noise) AS BIGINT) AS abs_err
      |FROM z""".stripMargin

  /** Cross-field TEMPORAL consistency audit — the causality rules
    * [[graft.operators.DataQuality.dqChecks]]'s intra-row battery
    * doesn't cover because each needs a JOIN or per-key fold: (1) a
    * line item shipped before its order was placed; (2) a user whose
    * first purchase precedes their first signup (the classic event-
    * pipeline ingestion bug — backfilled or clock-skewed streams).
    * Per rule: checked population and violation count — the
    * dq_checks output contract, extended to the cross-row tier.
    * Scale shape: rule 1 is one equi-join + conditional aggregate
    * (keys + two dates shuffle, never payloads); rule 2 folds events
    * to |users| first-timestamp rows, then one 1-row conditional
    * aggregate. */
  def temporalAudit(spark: SparkSession, dir: String): DataFrame = {
    val ship = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_shipdate").as("sd"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("okey"), col("o_orderdate").as("od")), Seq("okey"))
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("sd") < col("od"), 1L).otherwise(0L)).as("n_viol"))
      .select(lit("ship_before_order").as("rule"), col("n_checked"), col("n_viol"))
    val firsts = Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .filter(col("first_signup").isNotNull && col("first_purchase").isNotNull)
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("first_purchase") < col("first_signup"), 1L).otherwise(0L))
          .as("n_viol"))
      .select(lit("purchase_before_signup").as("rule"), col("n_checked"), col("n_viol"))
    ship.unionAll(firsts)
  }

  private[operators] def temporalAuditSql: String =
    """SELECT 'ship_before_order' AS rule, count(*) AS n_checked,
      |  CAST(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS n_viol
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |UNION ALL
      |SELECT 'purchase_before_signup', count(*),
      |  CAST(sum(CASE WHEN fp < fs THEN 1 ELSE 0 END) AS BIGINT)
      |FROM (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN ts END) AS fs,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
      |  FROM events WHERE event_type IN ('signup', 'purchase')
      |  GROUP BY 1) t
      |WHERE fs IS NOT NULL AND fp IS NOT NULL""".stripMargin

  /** 2-D histogram (quantity × order-value heat grid) — the joint-
    * distribution fold behind every density scatter/heat-map a BI
    * layer renders, and the 2-D generalization of [[histogramValues]]:
    * a FIXED 10×10 bucket grid (5-unit quantity bands × $10k value
    * bands, both capped into the top bucket) so the fold is
    * O(100) rows at any scale — the resolution is a constant of the
    * operator, not of the data (the auc_rank rule). One
    * partial+final fold; cells carry count and cents mass so
    * marginals and conditional profiles derive downstream. */
  def histogram2d(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        expr("least((cast(l_quantity as bigint) - 1) div 5, 9)").as("qty_bucket"),
        expr("least(cast(floor(l_extendedprice * 100 + 0.5) as bigint) div 1000000, 9)")
          .as("value_bucket"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("qty_bucket"), col("value_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))

  private[operators] def histogram2dSql: String =
    """SELECT least((CAST(l_quantity AS BIGINT) - 1) // 5, 9) AS qty_bucket,
      |  least(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) // 1000000, 9) AS value_bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  /** Year-over-year revenue BRIDGE — the growth decomposition a
    * revenue review opens with ("how much of the change is new
    * customers vs churn vs expansion?"), the CUSTOMER-axis
    * counterpart to [[priceVolumeMix]]'s price/volume axis: per
    * (customer, year) cents fold, self-joined FULL OUTER against
    * the prior year on the customer key, each customer classified
    * new (no prior-year revenue) / churned (no current) / retained
    * (split into expansion vs contraction deltas). The bridge
    * identity rev_t = retained_prev + expansion − contraction + new
    * is EXECUTED in spec — the decomposition can't silently leak
    * mass. Scale shape: ONE partial+final fold of orders to
    * |cust|·|years| rows (persisted once), one equi self-join on
    * (cust, year), a |years|-row final fold. */
  def revenueBridge(spark: SparkSession, dir: String): DataFrame = {
    val cy = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust"),
        expr("cast(year(cast(o_orderdate as date)) as bigint)").as("yr"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("cust"), col("yr")).agg(sum(col("cents")).as("cents"))
      .persistScoped()
    val prev = cy.select(col("cust"), (col("yr") + 1L).as("yr"),
      col("cents").as("prev_cents"))
    cy.join(prev, Seq("cust", "yr"), "full")
      .groupBy(col("yr"))
      .agg(
        sum(when(col("prev_cents").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_churned"),
        sum(when(col("cents").isNotNull && col("prev_cents").isNotNull, 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("prev_cents").isNull, col("cents")).otherwise(0L)).as("new_cents"),
        sum(when(col("cents").isNull, col("prev_cents")).otherwise(0L)).as("churn_cents"),
        sum(when(col("cents").isNotNull && col("prev_cents").isNotNull,
          greatest(col("cents") - col("prev_cents"), lit(0L))).otherwise(0L))
          .as("expand_cents"),
        sum(when(col("cents").isNotNull && col("prev_cents").isNotNull,
          greatest(col("prev_cents") - col("cents"), lit(0L))).otherwise(0L))
          .as("contract_cents"),
        sum(when(col("cents").isNotNull && col("prev_cents").isNotNull,
          col("prev_cents")).otherwise(0L)).as("retained_prev_cents"))
  }

  private[operators] def revenueBridgeSql: String =
    """WITH cy AS (
      |  SELECT o_custkey AS cust, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |j AS (
      |  SELECT coalesce(a.cust, b.cust) AS cust, coalesce(a.yr, b.yr + 1) AS yr,
      |    a.cents, b.cents AS prev_cents
      |  FROM cy a FULL JOIN cy b ON a.cust = b.cust AND a.yr = b.yr + 1)
      |SELECT yr,
      |  CAST(sum(CASE WHEN prev_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
      |  CAST(sum(CASE WHEN cents IS NOT NULL AND prev_cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |  CAST(sum(CASE WHEN prev_cents IS NULL THEN cents ELSE 0 END) AS BIGINT) AS new_cents,
      |  CAST(sum(CASE WHEN cents IS NULL THEN prev_cents ELSE 0 END) AS BIGINT) AS churn_cents,
      |  CAST(sum(CASE WHEN cents IS NOT NULL AND prev_cents IS NOT NULL
      |       THEN greatest(cents - prev_cents, 0) ELSE 0 END) AS BIGINT) AS expand_cents,
      |  CAST(sum(CASE WHEN cents IS NOT NULL AND prev_cents IS NOT NULL
      |       THEN greatest(prev_cents - cents, 0) ELSE 0 END) AS BIGINT) AS contract_cents,
      |  CAST(sum(CASE WHEN cents IS NOT NULL AND prev_cents IS NOT NULL
      |       THEN prev_cents ELSE 0 END) AS BIGINT) AS retained_prev_cents
      |FROM j GROUP BY 1""".stripMargin

  /** Single-source supply risk by brand — the resilience screen a
    * supply-chain review runs ("which brands depend on parts only
    * one supplier has ever shipped?"): supplier diversity per part
    * from the OBSERVED (part, supplier) shipment pairs, rolled to
    * per-brand part counts, single-sourced counts, and the risk
    * share on the 2²⁰ lattice. Scale shape: one distinct fold of
    * the fact's two key columns (never payloads), a |parts|-row
    * count, an equi-join to the part dim, and a |brands|-row final
    * fold. */
  def singleSourceParts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
      .groupBy(col("pk")).agg(count(lit(1)).as("n_supp"))
      .join(Tables.part(spark, dir)
        .select(col("p_partkey").as("pk"), col("p_brand").as("brand")), Seq("pk"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(when(col("n_supp") === 1L, 1L).otherwise(0L)).as("n_single"),
        min(col("n_supp")).as("min_suppliers"))
      .select(col("brand"), col("n_parts"), col("n_single"), col("min_suppliers"),
        expr("(n_single * cast(1048576 as bigint)) div n_parts").as("single_share_q"))

  private[operators] def singleSourcePartsSql: String =
    """WITH ps AS (
      |  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
      |pc AS (SELECT pk, count(*) AS n_supp FROM ps GROUP BY 1)
      |SELECT p_brand AS brand, count(*) AS n_parts,
      |  CAST(sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single,
      |  CAST(min(n_supp) AS BIGINT) AS min_suppliers,
      |  CAST((sum(CASE WHEN n_supp = 1 THEN 1 ELSE 0 END) * 1048576)
      |       // count(*) AS BIGINT) AS single_share_q
      |FROM pc JOIN part ON pk = p_partkey
      |GROUP BY 1""".stripMargin

  /** Corrupt-file-tolerant scan — the ops-robustness half of the
    * malformed-RECORD quarantine (`csv_quarantine` handles bad rows;
    * this handles bad FILES): a landing directory holding valid
    * parquet plus a truncated/garbage file is read with
    * `ignoreCorruptFiles`, so one bad upload cannot fail a 100 TB
    * scan. The valid content is a deterministic fixture subset
    * (user_id % 3 = 0), so the oracle replays exactly what must
    * survive — reading MORE than the valid files (garbage decoded as
    * rows) or FEWER (over-eager skipping) both break the hash. The
    * explicit read schema matters twice: it skips footer-based
    * inference (which would touch the corrupt file outside the
    * guarded path) and pins the column types. */
  def readCorruptSkip(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.TempDirs.scratch("corruptdir", dir)
    val done = new java.io.File(s"$out/_staged")
    if (!done.exists) {
      Tables.events(spark, dir)
        .filter(col("user_id") % 3 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"))
        .write.mode("overwrite").parquet(s"$out/data")
      // a garbage member beside the valid part-files: parquet magic
      // so listing accepts it, then junk — the footer read fails
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/data/part-junk-corrupt.parquet"),
        ("PAR1" + "this is not a parquet file" * 40).getBytes("UTF-8"))
      done.createNewFile()
    }
    spark.read
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE")
      .option("ignoreCorruptFiles", "true")
      .parquet(s"$out/data")
  }

  /** Globally sorted export order — the final-stage sort before a
    * sorted-file handoff. The point at scale is the PLAN: Spark
    * samples the sort key and plans a `rangepartitioning` exchange
    * (every partition holds a disjoint key range, sorted within), so
    * the global order costs one balanced shuffle — never a
    * single-partition funnel. PlanAuditSpec asserts exactly that.
    * The driver's compare is order-insensitive, so the oracle gates
    * the row SET while the plan assertion gates the sort shape. */
  def sortExport(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .orderBy(col("ts").asc, col("event_id").asc)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))

  private[operators] val SkipOrd = 400L
  private[operators] val SkipPart = 120L

  /** The read-side PAYOFF of [[writeZorderLayout]]: a box predicate
    * on BOTH clustered keys over the z-ordered files. Because every
    * file covers a contiguous zval range — i.e. a tight bounding box
    * on l_orderkey AND l_partkey — the parquet min/max footer stats
    * let the scan skip every row group outside the box: the pushed
    * predicate prunes at the reader, nothing but the matching corner
    * of the table is ever decoded. LayoutSpec counts it both ways
    * (footer boxes intersecting the predicate ≪ files present, and
    * the executed scan's numOutputRows ≪ table rows); the oracle
    * gates the row set itself. At 100 TB this is the entire point of
    * the layout: a needle query reads a few files, not the table. */
  def zorderSkip(spark: SparkSession, dir: String): DataFrame =
    zorderWrite(spark, dir)
      .filter(col("l_orderkey") < SkipOrd && col("l_partkey") < SkipPart)

  /** Salted fact-fact join — the standard skew-mitigation rewrite,
    * registered so the mechanics carry an oracle (the oracle is the
    * PLAIN join: salting must be output-invisible). The probe side
    * tags each row with a deterministic salt in [0, 8); the build side
    * replicates every row across all 8 salts; the join key becomes
    * (key, salt), splitting any hot key's rows across 8 reducers for
    * an 8× replication of the (smaller) build side. The `merge` hint
    * pins a sort-merge join — letting Spark broadcast the fixture-
    * sized build side would optimize the salt away and gate nothing.
    * At 100 TB this rewrite (or AQE's skewedJoin, which automates it)
    * is what keeps a power-law key from stalling the stage. */
  def joinSalted(spark: SparkSession, dir: String): DataFrame = {
    val salts = 8
    // hash-based salt so every bucket in [0, salts) is populated —
    // l_linenumber % 8 never yields 0 (TPC-H linenumbers are 1..7),
    // which left one build-side replica dead and split hot keys
    // across only 7 reducers
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"),
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts))
          .cast("int").as("salt"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(array((0 until salts).map(s => lit(s)): _*)))
    l.hint("merge")
      .join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
  }

  /** Generic CDC MERGE: apply a batch of keyed change records
    * (op ∈ I/U/D) to a base snapshot — the third CDC primitive beside
    * `compact_latest` (latest-record-wins compaction) and
    * `scd2_intervals` (keep-all-versions dimensioning). Updates and
    * deletes resolve through ONE left join on the key; inserts append
    * by union (their keys are absent from base by contract, so they
    * never need the join). The change batch rides a broadcast — the
    * production shape: a CDC batch is minutes of changes, orders of
    * magnitude smaller than the snapshot, and broadcasting it makes
    * the merge a NARROW pass over the base (no base shuffle at all;
    * at 100 TB the snapshot never moves). A batch too large to
    * broadcast degrades gracefully: drop the hint and the same plan
    * shuffle-joins on the key. */
  def applyCdc(base: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val dataCols = base.columns.filterNot(_ == key).toSeq
    val upd = changes.filter(col("op") =!= "I")
      .select(col(key) +: col("op") +: dataCols.map(c => col(c).as(s"new_$c")): _*)
    val merged = base.join(broadcast(upd), Seq(key), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col(key) +: dataCols.map(c =>
        when(col("op") === "U", col(s"new_$c")).otherwise(col(c)).as(c)): _*)
    merged.unionAll(
      changes.filter(col("op") === "I").select(col(key) +: dataCols.map(col): _*))
  }

  /** Registered [[applyCdc]] gate: a deterministic change batch
    * derived from the snapshot itself (keys ≡ 3 mod 100 update to
    * urgent priority with a 100.00 price adjustment, ≡ 7 delete,
    * ≡ 5 insert a key-shifted copy with status 'N'), applied through
    * the generic merge machinery. The oracle replays the SEMANTICS
    * (CASE + anti-filter + union); the Spark side must produce the
    * identical snapshot via the actual broadcast-merge plan. The
    * price adjustment is one IEEE add on identical inputs — both
    * engines round identically. */
  /** Base snapshot + derived change batch for the CDC merge queries —
    * shared by [[cdcApply]] (single-shot) and StreamOps.streamMerge
    * (the same change set fed through foreachBatch micro-batches), so
    * the two gates can never drift. Keys %100==3 update, ==7 delete,
    * ==5 insert under an offset key — each key touched exactly once. */
  private[operators] def cdcBase(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderpriority"), col("o_totalprice"))

  private[operators] def cdcChanges(o: DataFrame): DataFrame = {
    val m = col("o_orderkey") % 100
    o.filter(m.isin(3, 5, 7)).select(
      when(m === 5, col("o_orderkey") + 100000000L)
        .otherwise(col("o_orderkey")).as("o_orderkey"),
      col("o_custkey"),
      when(m === 5, lit("N")).otherwise(col("o_orderstatus")).as("o_orderstatus"),
      when(m === 3, lit("1-URGENT")).otherwise(col("o_orderpriority")).as("o_orderpriority"),
      when(m === 3, col("o_totalprice") + 100.0)
        .otherwise(col("o_totalprice")).as("o_totalprice"),
      when(m === 3, "U").when(m === 5, "I").otherwise("D").as("op"))
  }

  /** CDC upsert/delete application — full-outer merge of a change
    * batch (I/U/D ops) into the base snapshot keyed by orderkey; see
    * [[applyCdc]] for the merge semantics. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val o = cdcBase(spark, dir)
    applyCdc(o, cdcChanges(o), "o_orderkey")
  }

  /** Snapshot DIFF between two table versions — the lakehouse audit
    * op (Delta/Iceberg table_changes): given version v0 (the CDC
    * base) and v1 = changes applied, emit one row per differing key
    * classified added / removed / changed with old+new payloads.
    * One FULL OUTER key join + a column-compare predicate; at scale
    * both versions are partition-pruned scans and the join shuffles
    * keys + compared columns only. Null sides are encoded to
    * sentinels ('' / −1) on BOTH engines — the hash gate's null-free
    * convention. The 'changed' predicate compares doubles produced
    * by identical exact ops (+100.0) on both engines, so
    * classification is deterministic. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v0 = cdcBase(spark, dir)
    val v1 = applyCdc(v0, cdcChanges(v0), "o_orderkey")
    def side(v: DataFrame, sfx: String) = v.select(
      col("o_orderkey").as(s"k$sfx"), col("o_orderstatus").as(s"status$sfx"),
      col("o_orderpriority").as(s"prio$sfx"), col("o_totalprice").as(s"price$sfx"))
    side(v0, "0").join(side(v1, "1"), col("k0") === col("k1"), "full_outer")
      .withColumn("change_type",
        when(col("k0").isNull, lit("added"))
          .when(col("k1").isNull, lit("removed"))
          .when(col("status0") =!= col("status1") ||
            col("prio0") =!= col("prio1") ||
            col("price0") =!= col("price1"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(coalesce(col("k0"), col("k1")).as("o_orderkey"), col("change_type"),
        coalesce(col("status0"), lit("")).as("status_old"),
        coalesce(col("status1"), lit("")).as("status_new"),
        coalesce(col("prio0"), lit("")).as("prio_old"),
        coalesce(col("prio1"), lit("")).as("prio_new"),
        coalesce(col("price0"), lit(-1.0)).as("price_old"),
        coalesce(col("price1"), lit(-1.0)).as("price_new"))
  }

  /** Incremental view maintenance of a JOIN — the delta algebra that
    * keeps a materialized join current without recomputing it:
    * (A ∪ ΔA) ⋈ (B ∪ ΔB) = A⋈B ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB. The base
    * relations are pmod splits (disjoint and exhaustive by
    * construction), so the four terms exactly partition the full
    * join and the oracle is simply the plain join of the full
    * inputs — the algebra is hash-proven, not asserted. Scale story:
    * in production the first term is the STORED view (zero cost at
    * update time) and every delta term joins a |Δ|-sized side — the
    * plan broadcasts the deltas (PlanAuditSpec asserts it), so
    * maintenance cost is proportional to the change volume, not the
    * view size; deletes extend the algebra with anti-join terms
    * (the `cdc_apply` machinery). Inserts-only here — the insert
    * algebra is the part whose cost model matters. The four terms stay
    * four joins, not one fan-out: they are the algebra itself. */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val oBase  = o.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
    val oDelta = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
    val cBase  = c.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
    val cDelta = c.filter(pmod(col("c_custkey"), lit(7)) === 0)
    val key = col("o_custkey") === col("c_custkey")
    val out = Seq(
      oBase.join(cBase, key),                       // the stored view
      broadcast(oDelta).join(cBase, key),           // ΔA ⋈ B
      oBase.join(broadcast(cDelta), key),           // A ⋈ ΔB
      broadcast(oDelta).join(cDelta, key))          // ΔA ⋈ ΔB
      .map(_.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("c_mktsegment")))
    out.reduce(_ unionAll _)
  }

  /** Incremental view maintenance of a grouped AGGREGATE — the other
    * half of the delta algebra ([[ivmJoin]] maintains a join): the
    * stored view V = γ_custkey(count, Σ price) over the base orders,
    * and a mixed changeset (keys %100==5 insert a copy, %100==7
    * delete the row) is folded in WITHOUT rescanning the base. The
    * delta alone is aggregated with SIGNED multiplicities (+1
    * insert, −1 delete) — counts add the multiplicity, sums add
    * mult × price — then merged into V by a BROADCAST left join:
    * changed rows derive from base rows, so every delta group
    * already exists in the view and left-join covers the merge (a
    * brand-new group would need the full-outer variant, which can't
    * broadcast). Maintenance cost ∝ |Δ|; the base is touched only
    * through its stored aggregate. Sums stay DECIMAL through the
    * merge — exact and order-insensitive, so the maintained view is
    * bit-identical to the oracle's full recompute over base ∪ Δ —
    * and groups whose count reaches zero vanish exactly as a
    * recompute would drop them. PlanAuditSpec asserts the
    * BroadcastHashJoin merge. */
  def ivmAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val m = col("o_orderkey") % 100
    val dec = col("o_totalprice").cast(DecimalType(30, 4))
    val viewBase = o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n0"), sum(dec).as("s0"))
    val viewDelta = o.filter(m.isin(5, 7))
      .select(col("o_custkey"), dec.as("p"),
        when(m === 5, lit(1L)).otherwise(lit(-1L)).as("mult"))
      .groupBy("o_custkey")
      .agg(sum(col("mult")).as("dn"), sum(col("p") * col("mult")).as("ds"))
    viewBase.join(broadcast(viewDelta), Seq("o_custkey"), "left")
      .select(col("o_custkey"),
        (col("n0") + coalesce(col("dn"), lit(0L))).as("n"),
        (col("s0") + coalesce(col("ds"), lit(0).cast(DecimalType(30, 4))))
          .as("sdec"))
      .filter(col("n") > 0)
      .select(col("o_custkey"), col("n"),
        col("sdec").cast("double").as("sum_price"))
  }

  /** First-order Markov transition model over per-user event
    * sequences — the behavioral-analytics summary (and the n-gram
    * LM counterpart for event streams): for each ordered pair of
    * consecutive event types within a user's timeline, the
    * transition count and the conditional probability
    * P(next | current). One exchange on user_id feeds the lead()
    * window ((ts, event_id) ordering — event_id breaks timestamp
    * ties deterministically, the asof rule); the bigram groupBy then
    * partial-aggregates to a |types|² result, and the normalizing
    * row-sum is a window over that tiny aggregate, not the events.
    * p is one BIGINT÷BIGINT IEEE division on identical operands in
    * both engines, so even the DOUBLE column hash-matches. */
  def markovTrans(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("cur")).cast("double"))
  }

  /** Semi-structured access through Spark 4's VARIANT type — the
    * schema-drift-tolerant path beyond `from_json` (`json_events`):
    * `parse_json` builds the binary variant once, `variant_get`
    * extracts typed fields lazily. At 100 TB this is the shredding
    * story — variant columns store field-wise, so `$.k` access reads
    * one shredded column instead of re-parsing text per row per
    * field. Aggregates gate the extraction end to end against
    * DuckDB's JSON functions. */
  def variantEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        variant_get(parse_json(col("props")), "$.k", "long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
        sum(col("k")).as("sum_k"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Multi-step funnel analysis (view → click → purchase, each step
    * strictly after the previous) — the product-analytics primitive
    * beyond the 2-step interval join (`stream_attribution`): per
    * user, the first view, the first click AFTER that view, and the
    * first purchase AFTER that click, then global step counts. All
    * three step timestamps come from CHAINED unordered window minima
    * over ONE user partitioning — a single exchange, three Window
    * passes reusing the same sort, no self-joins and no per-step
    * event-table re-scans (the join formulation explodes on users
    * with many events; this one is linear). */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val e = Tables.events(spark, dir).select(col("user_id"), col("ts"), col("event_type"))
    val staged = e
      .withColumn("tv", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc", min(when(col("event_type") === "click" && col("ts") > col("tv"),
        col("ts"))).over(w))
      .withColumn("tp", min(when(col("event_type") === "purchase" && col("ts") > col("tc"),
        col("ts"))).over(w))
      .select(col("user_id"), col("tv"), col("tc"), col("tp"))
      .distinct()
    staged.agg(
      count(lit(1)).as("n_users"),
      count(col("tv")).as("n_view"),
      count(col("tc")).as("n_click"),
      count(col("tp")).as("n_purchase"))
  }

  private[operators] val EncCols: Seq[(String, Seq[String])] = Seq(
    "orders" -> Seq("o_orderstatus", "o_orderpriority"),
    "lineitem" -> Seq("l_returnflag", "l_linestatus", "l_shipdate"))

  /** Columnar ENCODING advisor — the physical-design pass a lakehouse
    * writer runs before committing a layout ([[profileTable]]'s
    * sibling, aimed at the writer not the optimizer): per string
    * column, exact row/distinct/byte-mass counts and a rule-based
    * recommendation — ndv ≤ 100 → 'dict-rle' (dictionary page +
    * run-length indexes), ndv·100 ≤ n → 'dict' (cardinality under 1%
    * of rows still dictionary-codes well), else 'plain' (dictionary
    * would blow the page budget). Parquet applies dictionary encoding
    * adaptively per row group; this op is the CORPUS-level readout
    * that decides defaults (and flags the l_shipinstruct-style
    * pseudo-enums a schema should declare). Exact integer thresholds
    * — no float heuristics. Scale shape: ONE single-pass aggregate
    * per table (all countDistincts share the scan via Expand — the
    * profile_table trade, exact because the oracle replays it), then
    * a constant-width stack/unpivot; output is Σ|columns| rows. The
    * per-table union stays: each table is already scanned once. */
  def encodingAdvisor(spark: SparkSession, dir: String): DataFrame = {
    def perTable(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
      val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        countDistinct(col(c)).as(s"d_$c"),
        sum(length(col(c).cast("string")).cast("long")).as(s"l_$c")))
      val stacked = cols.map(c => s"'$c', d_$c, l_$c").mkString(", ")
      df.agg(aggs.head, aggs.tail: _*)
        .select(lit(table).as("tbl"), col("n"),
          expr(s"stack(${cols.size}, $stacked) as (col_name, ndv, sum_len)"))
    }
    val parts = EncCols.map {
      case ("orders", cs) => perTable(Tables.orders(spark, dir), "orders", cs)
      case (t, cs) => perTable(Tables.lineitem(spark, dir), t, cs)
    }
    parts.reduce(_ unionByName _)
      .withColumn("advice",
        when(col("ndv") <= 100L, "dict-rle")
          .when(col("ndv") * 100L <= col("n"), "dict")
          .otherwise("plain"))
  }

  private[operators] def encodingAdvisorSql: String =
    EncCols.flatMap { case (t, cs) =>
      cs.map { c =>
        s"""SELECT '$t' AS tbl, count(*) AS n, '$c' AS col_name,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
           |  CAST(sum(len(CAST($c AS VARCHAR))) AS BIGINT) AS sum_len,
           |  CASE WHEN count(DISTINCT $c) <= 100 THEN 'dict-rle'
           |       WHEN count(DISTINCT $c) * 100 <= count(*) THEN 'dict'
           |       ELSE 'plain' END AS advice
           |FROM $t""".stripMargin
      }
    }.mkString("\nUNION ALL\n")

  /** ANALYZE-style table profiling — the stats-collection pass a
    * cost-based optimizer (and any data-quality dashboard) runs:
    * per column, null count, distinct count, and canonical-string
    * min/max, emitted as one row per column from a SINGLE scan (all
    * aggregates in one partial+final pass, then a narrow
    * stack/unpivot of the 1-row result — no per-column re-scans).
    * Canonical strings keep the mixed-type output one schema:
    * integers render identically everywhere; the decimal price
    * renders at fixed scale 2; the timestamp renders through an
    * explicit yyyy-MM-dd HH:mm:ss format — each a representation
    * both engines produce byte-identically (raw double/timestamp
    * toString would not be).
    *
    * Scale note: six exact countDistincts in one aggregate plan an
    * Expand (×6 rows through the partial phase) — the exact-stats
    * shape. A 100 TB profile swaps them for approx_count_distinct
    * (no Expand, one HLL register set per column); exact is kept
    * here because the oracle can replay it. */
  def profileTable(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def ns(c: Column): Column = c.cast("string")
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      // o_orderkey
      sum(col("o_orderkey").isNull.cast("long")).as("nul_ok"),
      countDistinct(col("o_orderkey")).as("dis_ok"),
      ns(min(col("o_orderkey"))).as("min_ok"), ns(max(col("o_orderkey"))).as("max_ok"),
      // o_custkey
      sum(col("o_custkey").isNull.cast("long")).as("nul_ck"),
      countDistinct(col("o_custkey")).as("dis_ck"),
      ns(min(col("o_custkey"))).as("min_ck"), ns(max(col("o_custkey"))).as("max_ck"),
      // o_orderstatus
      sum(col("o_orderstatus").isNull.cast("long")).as("nul_st"),
      countDistinct(col("o_orderstatus")).as("dis_st"),
      min(col("o_orderstatus")).as("min_st"), max(col("o_orderstatus")).as("max_st"),
      // o_totalprice (decimal scale 2 — canonical cross-engine string)
      sum(col("o_totalprice").isNull.cast("long")).as("nul_tp"),
      countDistinct(col("o_totalprice")).as("dis_tp"),
      ns(min(col("o_totalprice")).cast("decimal(30,2)")).as("min_tp"),
      ns(max(col("o_totalprice")).cast("decimal(30,2)")).as("max_tp"),
      // o_orderdate (explicit format)
      sum(col("o_orderdate").isNull.cast("long")).as("nul_od"),
      countDistinct(col("o_orderdate")).as("dis_od"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("min_od"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("max_od"),
      // o_orderpriority
      sum(col("o_orderpriority").isNull.cast("long")).as("nul_op"),
      countDistinct(col("o_orderpriority")).as("dis_op"),
      min(col("o_orderpriority")).as("min_op"), max(col("o_orderpriority")).as("max_op"))
    agg.select(col("n_rows"), expr(
      """stack(6,
        |  'o_orderkey', nul_ok, dis_ok, min_ok, max_ok,
        |  'o_custkey', nul_ck, dis_ck, min_ck, max_ck,
        |  'o_orderstatus', nul_st, dis_st, min_st, max_st,
        |  'o_totalprice', nul_tp, dis_tp, min_tp, max_tp,
        |  'o_orderdate', nul_od, dis_od, min_od, max_od,
        |  'o_orderpriority', nul_op, dis_op, min_op, max_op
        |) AS (col_name, n_nulls, n_distinct, min_val, max_val)""".stripMargin))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
  }

  /** The 100 TB form of [[profileTable]], registered beside it so the
    * scale story is executable, not narrated: the six exact
    * countDistincts (which plan an Expand — ×6 rows through the
    * partial phase) are replaced by six bounded KMV sketches
    * ([[graft.functions.KmvSketchAgg]], k=64) in the SAME single
    * scan — no Expand, one partial+final pass, ≤ 64 longs of state
    * per column per partition (PlanAuditSpec asserts the shape).
    * KMV over HLL because the estimate is EXACTLY replayable: the
    * oracle recomputes each column's 64 smallest 60-bit md5 hashes
    * and the (k−1)/h_k estimator in SQL, so the distinct column is
    * hash-gated like every exact stat, not envelope-checked. Hash
    * input is each column's canonical string (the same renderings
    * [[profileTable]] proved cross-engine: fixed-scale decimal for
    * the double price, explicit format for the timestamp). */
  def profileTableApprox(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketchAgg.kmv_distinct
    val o = Tables.orders(spark, dir)
    def ns(c: Column): Column = c.cast("string")
    def h60(c: Column): Column =
      conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10).cast("long")
    val canonPrice = col("o_totalprice").cast("decimal(30,2)")
    val canonDate = date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey").isNull.cast("long")).as("nul_ok"),
      kmv_distinct(h60(col("o_orderkey")), 64).as("dis_ok"),
      ns(min(col("o_orderkey"))).as("min_ok"), ns(max(col("o_orderkey"))).as("max_ok"),
      sum(col("o_custkey").isNull.cast("long")).as("nul_ck"),
      kmv_distinct(h60(col("o_custkey")), 64).as("dis_ck"),
      ns(min(col("o_custkey"))).as("min_ck"), ns(max(col("o_custkey"))).as("max_ck"),
      sum(col("o_orderstatus").isNull.cast("long")).as("nul_st"),
      kmv_distinct(h60(col("o_orderstatus")), 64).as("dis_st"),
      min(col("o_orderstatus")).as("min_st"), max(col("o_orderstatus")).as("max_st"),
      sum(col("o_totalprice").isNull.cast("long")).as("nul_tp"),
      kmv_distinct(h60(canonPrice), 64).as("dis_tp"),
      ns(min(canonPrice)).as("min_tp"), ns(max(canonPrice)).as("max_tp"),
      sum(col("o_orderdate").isNull.cast("long")).as("nul_od"),
      kmv_distinct(h60(canonDate), 64).as("dis_od"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("min_od"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd HH:mm:ss").as("max_od"),
      sum(col("o_orderpriority").isNull.cast("long")).as("nul_op"),
      kmv_distinct(h60(col("o_orderpriority")), 64).as("dis_op"),
      min(col("o_orderpriority")).as("min_op"), max(col("o_orderpriority")).as("max_op"))
    agg.select(col("n_rows"), expr(
      """stack(6,
        |  'o_orderkey', nul_ok, dis_ok, min_ok, max_ok,
        |  'o_custkey', nul_ck, dis_ck, min_ck, max_ck,
        |  'o_orderstatus', nul_st, dis_st, min_st, max_st,
        |  'o_totalprice', nul_tp, dis_tp, min_tp, max_tp,
        |  'o_orderdate', nul_od, dis_od, min_od, max_od,
        |  'o_orderpriority', nul_op, dis_op, min_op, max_op
        |) AS (col_name, n_nulls, n_distinct_est, min_val, max_val)""".stripMargin))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct_est"), col("min_val"), col("max_val"))
  }

  /** Bucketed co-located join — the pay-the-shuffle-ONCE layout
    * technique that matters most for repeated fact-fact joins at
    * 100 TB: both tables are written bucketed (+ sorted) on the join
    * key, so every later join on that key reads co-located buckets
    * and plans NO join-side exchange (PlanAuditSpec asserts ≤ 1
    * exchange — the final small-group aggregation only — under
    * broadcast-disabled cluster conditions). Eager write at
    * construction is the sink-gate precedent (zorder_write); data
    * lands under the pid-scoped scratch dir, and the oracle gates
    * the join results against the plain unbucketed join. Catalog
    * entries live in InMemoryCatalog, which sits in SharedState and
    * is therefore shared by EVERY session of the SparkContext — so
    * the table names are scoped the same way as the scratch dir
    * (input-dir md5 + pid), keeping two fixtures or two concurrent
    * JVMs from racing on DROP TABLE/saveAsTable. */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.sources.TempDirs.scratch("buckets", dir)
    val scope = s"${graft.sources.TempDirs.dirKey(dir)}_p${ProcessHandle.current().pid()}"
    val ordersT = s"graft_orders_b_$scope"
    val lineitemT = s"graft_lineitem_b_$scope"
    def writeBucketed(df: DataFrame, key: String, table: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      df.write.bucketBy(8, key).sortBy(key)
        .option("path", s"$scratch/$table")
        .mode("overwrite").saveAsTable(table)
    }
    writeBucketed(Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus"),
      "o_orderkey", ordersT)
    writeBucketed(Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"),
      "l_orderkey", lineitemT)
    spark.table(lineitemT)
      .join(spark.table(ordersT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
  }

  /** Shuffle join under runtime-filter pressure — the data-skipping
    * shape that matters most at 100 TB: a fact-fact join whose build
    * side is filtered selective, where Spark's runtime bloom filter
    * (spark.sql.optimizer.runtime.bloomFilter.*) injects a
    * might_contain probe into the APPLICATION side's scan so the big
    * side drops non-joining rows before the exchange, not after it.
    * The `merge` hint pins the shuffle join (broadcast at fixture
    * scale would both bypass the runtime-filter trigger and gate
    * nothing — a broadcast join already skips via its own hash
    * probe). The size thresholds that arm the rewrite are sized for
    * clusters (10 GB application-side scans), so the fixture-scale
    * plan runs unfiltered — PlanAuditSpec lowers the thresholds in a
    * dedicated session and asserts the bloom probe appears; this
    * registered form gates the join's RESULTS either way. */
  def joinRuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    Tables.lineitem(spark, dir).hint("merge")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
  }

  // 2^16 bits = one full 4-hex-char slice per hash; ~16+ bits/key at
  // the largest fixture (3k keys at sf0.1) keeps the measured FP rate
  // in the sub-1% regime a planner would actually ship
  private[operators] val BloomM = 65536L // filter bits
  private[operators] val BloomK = 3      // hash functions per key

  /** Explicit broadcast-bloom semi-join calibration — the runtime
    * filter of [[joinRuntimeFilter]] made first-class and MEASURED
    * (the minhash_accuracy role for the join-pruning family): a
    * [[BloomM]]-bit / [[BloomK]]-hash filter builds over one segment's
    * customer keys, every ordering customer probes it, and the report
    * states what a planner needs to decide "ship the filter or not" —
    * probe count, true members, bloom positives, false positives, and
    * the FP rate on the 2²⁰ lattice. Bit positions are md5-hex slices
    * mod [[BloomM]] (the agg_kmv_distinct hash-domain trick), so both
    * engines replay the filter bit-for-bit and the gate is hash-exact
    * — including the no-false-negative guarantee (every member IS a
    * bloom positive, by construction; EdgeCaseSpec executes it).
    * Scale shape: the key fold and its ≤ [[BloomM]]-row bit set are
    * broadcast-sized by construction (that is the point of a bloom —
    * at 100 TB the bit set ships to every executor while the key set
    * may not). Positions come from one explode of the [[BloomK]] hash
    * indices; the probe side's narrow rows left-join the bits in a
    * BroadcastHashJoin and fold per key, then partial+final.
    * The scalar report is ONE row — safe at any corpus size. */
  def bloomProbe(spark: SparkSession, dir: String): DataFrame = {
    // (k, pos) once per hash j of each key: md5-hex slice j, mod BloomM
    def positions(keys: DataFrame): DataFrame =
      keys.select(col("k"), explode(sequence(lit(0), lit(BloomK - 1))).as("j"))
        .select(col("k"), pmod(conv(md5(col("k").cast("string").cast("binary"))
          .substr(col("j") * 4 + 1, lit(4)), 16, 10).cast("long"), lit(BloomM)).as("pos"))
    val keys = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey").as("k")).distinct().persistScoped()
    val bits = positions(keys).select(col("pos")).distinct().withColumn("set", lit(1L))
    // nhit = how many of a probe key's K positions are set — duplicates
    // among a key's positions count per j, exactly the per-hash bit
    // test of a real bloom; a key with no set position keeps nhit 0
    positions(Tables.orders(spark, dir).select(col("o_custkey").as("k")).distinct())
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy(col("k")).agg(count(col("set")).as("nhit"))
      .withColumn("bloom_pos", (col("nhit") === BloomK.toLong).cast("long"))
      .join(broadcast(keys.withColumn("member", lit(1L))), Seq("k"), "left")
      .withColumn("member", coalesce(col("member"), lit(0L)))
      .agg(
        count(lit(1)).as("n_probe"),
        sum(col("member")).as("n_member"),
        sum(col("bloom_pos")).as("n_bloom_pos"),
        sum(when(col("bloom_pos") === 1L && col("member") === 0L, 1L)
          .otherwise(0L)).as("n_fp"))
      .select(col("n_probe"), col("n_member"), col("n_bloom_pos"), col("n_fp"),
        expr("(n_fp * 1048576) div greatest(n_probe - n_member, 1)").as("fp_q"))
  }
}
