package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.CacheScope.ScopedDataset
import graft.sources.Tables

/** Experiments slice of [[Relational]].
  *
  * Experimentation and forecasting: A/B tests, CUPED, KS/runs tests,
  * embargo splits, backtests, SES forecasts, LTV curves, ABC
  * classes, segment migration, stickiness, interarrival stats.
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
private[operators] trait RelationalExperiments extends Serializable { this: Relational.type =>


  private[operators] def bloomProbeSql: String =
    s"""WITH keys AS (SELECT DISTINCT c_custkey AS k FROM customer
       |              WHERE c_mktsegment = 'AUTOMOBILE'),
       |pk AS (SELECT k, CAST('0x' || substr(md5(CAST(k AS VARCHAR)), j*4 + 1, 4) AS INTEGER)
       |                 % $BloomM AS pos
       |       FROM keys, generate_series(0, ${BloomK - 1}) AS t(j)),
       |bits AS (SELECT DISTINCT pos FROM pk),
       |probe AS (SELECT DISTINCT o_custkey AS k FROM orders),
       |pp AS (SELECT k, CAST('0x' || substr(md5(CAST(k AS VARCHAR)), j*4 + 1, 4) AS INTEGER)
       |                 % $BloomM AS pos
       |       FROM probe, generate_series(0, ${BloomK - 1}) AS t(j)),
       |hit AS (SELECT pp.k, count(*) AS nhit FROM pp JOIN bits USING (pos) GROUP BY 1),
       |v AS (SELECT p.k,
       |        CASE WHEN coalesce(h.nhit, 0) = $BloomK THEN 1 ELSE 0 END AS bloom_pos,
       |        CASE WHEN kk.k IS NULL THEN 0 ELSE 1 END AS member
       |      FROM probe p LEFT JOIN hit h ON h.k = p.k LEFT JOIN keys kk ON kk.k = p.k)
       |SELECT count(*) AS n_probe, CAST(sum(member) AS BIGINT) AS n_member,
       |  CAST(sum(bloom_pos) AS BIGINT) AS n_bloom_pos,
       |  CAST(sum(CASE WHEN bloom_pos = 1 AND member = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       |  CAST((CAST(sum(CASE WHEN bloom_pos = 1 AND member = 0 THEN 1 ELSE 0 END) AS BIGINT) * 1048576)
       |       // greatest(count(*) - CAST(sum(member) AS BIGINT), 1) AS BIGINT) AS fp_q
       |FROM v""".stripMargin

  /** Bollinger-band breach screen over the daily revenue series —
    * the volatility-envelope anomaly primitive (price/volume bands in
    * trading, alert thresholds in ops dashboards): per calendar
    * month, how many days' revenue left the trailing-7-day ±2σ band.
    * The test is kept EXACT with no sqrt and no float variance:
    * breach ⟺ (n·x − S₁)² > 4·(n·S₂ − S₁²) over the window's exact
    * integral moment sums (S₁=Σcents, S₂=Σcents² as DECIMAL(38) —
    * cents² reaches 10²⁶ at warehouse scale, past int64), the
    * variance inequality cleared of its n² denominators, so both
    * engines compare the same integers. Partial leading windows
    * (n<7) use the same formula at their actual n. Scale shape:
    * fold-below-window (the [[drawdown]] contract) — the fact table
    * folds to |days| rows with one partial+final aggregate BEFORE
    * the single-partition trailing window orders metadata-scale
    * rows; the monthly rollup is a second partial+final aggregate. */
  def bollingerBreach(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("day").asc).rowsBetween(-6, Window.currentRow)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    Tables.orders(spark, dir)
      .select(
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("day"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("x"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(dec(col("x"))).over(w))
      .withColumn("s2", sum(dec(col("x")) * dec(col("x"))).over(w))
      .select(
        expr("day div 30").as("m"),
        when(
          (dec(col("n")) * dec(col("x")) - col("s1")) * (dec(col("n")) * dec(col("x")) - col("s1"))
            > lit(4) * (dec(col("n")) * col("s2") - col("s1") * col("s1")),
          1L).otherwise(0L).as("br"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_days"), sum(col("br")).as("n_breach"))
  }

  private[operators] def bollingerBreachSql: String =
    """WITH g AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |w AS (SELECT day, x,
      |        count(*) OVER tw AS n,
      |        CAST(sum(CAST(x AS HUGEINT)) OVER tw AS HUGEINT) AS s1,
      |        CAST(sum(CAST(x AS HUGEINT) * x) OVER tw AS HUGEINT) AS s2
      |      FROM g
      |      WINDOW tw AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |b AS (SELECT day // 30 AS m,
      |        CASE WHEN (n * CAST(x AS HUGEINT) - s1) * (n * CAST(x AS HUGEINT) - s1)
      |                  > 4 * (n * s2 - s1 * s1)
      |             THEN 1 ELSE 0 END AS br
      |      FROM w)
      |SELECT CAST(m AS BIGINT) AS m, count(*) AS n_days,
      |  CAST(sum(br) AS BIGINT) AS n_breach
      |FROM b GROUP BY m""".stripMargin

  /** Lead–lag cross-correlation between two daily series — the
    * "does volume lead revenue" diagnostic a demand-planning team
    * runs before trusting one series as a predictor of the other:
    * corr(qty(d), rev(d+lag)) at lags {−7,−3,−1,0,1,3,7}. The
    * [[autocorrLag7]] exact-moment discipline generalized to a
    * second series and a lag VECTOR: both series fold from lineitem
    * in ONE partial+final aggregate, each day row explodes into 7
    * (day, lag) probes (a 7× fan-out of metadata-scale rows, not
    * fact rows), and one key join on the shifted day aligns the
    * pairs. Moment sums are exact integrals (floor-anchored
    * DECIMAL(19) products); the final corr/slope doubles divide
    * bit-identical integers, so IEEE division/sqrt makes the floats
    * reproducible cross-engine. Scale shape: fact folds once; the
    * join and the per-lag aggregate move only |days|·7 rows. */
  def crossCorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .select(
        expr("cast(datediff(cast(l_shipdate as date), date'1970-01-01') as bigint)").as("day"),
        expr("cast(l_quantity as bigint)").as("qty"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("day"))
      .agg(sum(col("qty")).as("q"), expr("sum(cents) div 100000").as("rev_k"))
      .persistScoped()
    val xs = daily.select(col("day"), col("q").as("x"))
      .withColumn("lag", explode(array(Seq(-7L, -3L, -1L, 0L, 1L, 3L, 7L).map(lit): _*)))
      .select((col("day") + col("lag")).as("yday"), col("lag"), col("x"))
    val pairs = xs.join(
      daily.select(col("day").as("yday"), col("rev_k").as("y")), "yday")
    def mom(c: Column): Column = floor(c).cast("double")
    val dec = (c: Column) => c.cast(DecimalType(19, 0))
    val n = count(lit(1))
    val sx = mom(sum(dec(col("x")))); val sy = mom(sum(dec(col("y"))))
    val sxx = mom(sum(dec(col("x")) * dec(col("x"))))
    val syy = mom(sum(dec(col("y")) * dec(col("y"))))
    val sxy = mom(sum(dec(col("x")) * dec(col("y"))))
    val covN = n * sxy - sx * sy
    pairs.groupBy(col("lag")).agg(
      n.as("n_pairs"),
      (covN / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("corr_xy"))
  }

  private[operators] def crossCorrSql: String =
    """WITH d AS (
      |  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) // 100000 AS BIGINT) AS rev_k
      |  FROM lineitem GROUP BY 1),
      |xs AS (SELECT day + lag AS yday, lag, q AS x
      |       FROM d, (SELECT unnest([-7, -3, -1, 0, 1, 3, 7]) AS lag) l),
      |p AS (SELECT xs.lag, xs.x, d.rev_k AS y FROM xs JOIN d ON d.day = xs.yday),
      |m AS (SELECT lag, count(*) AS n,
      |        CAST(floor(sum(CAST(x AS HUGEINT))) AS DOUBLE) AS sx,
      |        CAST(floor(sum(CAST(y AS HUGEINT))) AS DOUBLE) AS sy,
      |        CAST(floor(sum(CAST(x AS HUGEINT) * x)) AS DOUBLE) AS sxx,
      |        CAST(floor(sum(CAST(y AS HUGEINT) * y)) AS DOUBLE) AS syy,
      |        CAST(floor(sum(CAST(x AS HUGEINT) * y)) AS DOUBLE) AS sxy
      |      FROM p GROUP BY lag)
      |SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
      |  (n * sxy - sx * sy)
      |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_xy
      |FROM m""".stripMargin

  /** Weighted trade reciprocity — the network-science companion to
    * [[tradeMatrix]]: for every unordered nation pair, the revenue
    * flowing each way and how BALANCED the exchange is,
    * `recip_q = 2·min(w_ab, w_ba) / (w_ab + w_ba)` on the 2²⁰
    * lattice (2²⁰ = perfectly reciprocal, 0 = one-way). One-way
    * pairs survive via the full outer join with zero fills — a
    * reciprocity report that silently drops them would overstate
    * balance. Scale shape: the same fact fold as the trade matrix
    * (one partial+final aggregate to |nations|² rows at most), then
    * the direction alignment is a join of two disjoint SLICES of
    * that metadata-scale fold — the fact table is long gone. Wide
    * lattice products ride DECIMAL(38) (min·2²¹ passes int64 near
    * 10¹³-cent flows). */
  def tradeReciprocity(spark: SparkSession, dir: String): DataFrame = {
    val cn = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name").as("cust_nation"))),
        "c_nationkey")
    val sn = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("supp_nation"))),
        "s_nationkey")
    val g = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("r"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(sum(col("r")).as("w"))
      .persistScoped()
    val ab = g.filter(col("cust_nation") < col("supp_nation"))
      .select(col("cust_nation").as("nation_a"), col("supp_nation").as("nation_b"),
        col("w").as("w_ab"))
    val ba = g.filter(col("cust_nation") > col("supp_nation"))
      .select(col("supp_nation").as("nation_a"), col("cust_nation").as("nation_b"),
        col("w").as("w_ba"))
    ab.join(ba, Seq("nation_a", "nation_b"), "full")
      .select(col("nation_a"), col("nation_b"),
        coalesce(col("w_ab"), lit(0L)).as("w_ab"),
        coalesce(col("w_ba"), lit(0L)).as("w_ba"))
      .withColumn("recip_q",
        expr("cast((cast(least(w_ab, w_ba) as decimal(38,0)) * 2 * 1048576) " +
          "div (w_ab + w_ba) as bigint)"))
  }

  private[operators] def tradeReciprocitySql: String =
    """WITH g AS (
      |  SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  WHERE cn.n_name <> sn.n_name
      |  GROUP BY 1, 2),
      |ab AS (SELECT cust_nation AS nation_a, supp_nation AS nation_b, w AS w_ab
      |       FROM g WHERE cust_nation < supp_nation),
      |ba AS (SELECT supp_nation AS nation_a, cust_nation AS nation_b, w AS w_ba
      |       FROM g WHERE cust_nation > supp_nation),
      |j AS (SELECT coalesce(ab.nation_a, ba.nation_a) AS nation_a,
      |        coalesce(ab.nation_b, ba.nation_b) AS nation_b,
      |        coalesce(ab.w_ab, 0) AS w_ab, coalesce(ba.w_ba, 0) AS w_ba
      |      FROM ab FULL JOIN ba
      |        ON ab.nation_a = ba.nation_a AND ab.nation_b = ba.nation_b)
      |SELECT nation_a, nation_b, CAST(w_ab AS BIGINT) AS w_ab,
      |  CAST(w_ba AS BIGINT) AS w_ba,
      |  CAST((CAST(least(w_ab, w_ba) AS HUGEINT) * 2 * 1048576)
      |       // (w_ab + w_ba) AS BIGINT) AS recip_q
      |FROM j""".stripMargin

  /** Deterministic A/B experiment readout — assignment, conversion,
    * and significance in one pass, the whole loop an experimentation
    * platform runs per flag: users land in arm A or B by the SAME
    * Knuth multiplicative hash as the corpus splits (growth-stable:
    * an assignment never changes as the corpus grows — random()
    * would reshuffle arms every run), a user CONVERTS if they emit a
    * high-value purchase (value ≥ 200 — plain "any purchase" is
    * universal on the fixture, collapsing p̂(1−p̂) to 0 and the z
    * denominator with it), and the readout is one row with both arms'
    * exact counts, conversion rates on the 2²⁰ lattice, and the
    * classic pooled two-proportion z statistic. z is the one double
    * — computed from exact integer counts by identical IEEE
    * arithmetic on both engines (the [[autocorrLag7]] discipline).
    * Scale shape: one per-user partial+final fold of the event
    * stream (conversion is max-of-flag — no distinct), then a 1-row
    * conditional aggregate; assignment is a pure per-row function,
    * never a join. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val h = ((col("user_id") % lit(2147483648L)) * lit(2654435761L)) % lit(4294967296L)
    val per = Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("event_type") === "purchase" && col("value") >= 200.0, 1L)
          .otherwise(0L).as("c"))
      .groupBy(col("user_id"))
      .agg(max(col("c")).as("conv"))
      .select(when(h < lit(2147483648L), "A").otherwise("B").as("arm"), col("conv"))
    val z = {
      val na = sum(when(col("arm") === "A", 1L).otherwise(0L)).cast("double")
      val nb = sum(when(col("arm") === "B", 1L).otherwise(0L)).cast("double")
      val ca = sum(when(col("arm") === "A", col("conv")).otherwise(0L)).cast("double")
      val cb = sum(when(col("arm") === "B", col("conv")).otherwise(0L)).cast("double")
      val p = (ca + cb) / (na + nb)
      (ca / na - cb / nb) / sqrt(p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb))
    }
    per.agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === "A", col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === "B", col("conv")).otherwise(0L)).as("conv_b"),
      z.as("z_score"))
      .withColumn("rate_a_q",
        expr("cast((conv_a * cast(1048576 as bigint)) div n_a as bigint)"))
      .withColumn("rate_b_q",
        expr("cast((conv_b * cast(1048576 as bigint)) div n_b as bigint)"))
  }

  private[operators] def abTestSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value >= 200.0 THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1),
      |armed AS (
      |  SELECT CASE WHEN ((user_id % 2147483648) * 2654435761) % 4294967296
      |              < 2147483648 THEN 'A' ELSE 'B' END AS arm, conv
      |  FROM per),
      |a AS (SELECT
      |        CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |        CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |        CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |        CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |      FROM armed)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
      |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |           * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
      |           * (1.0 / n_a + 1.0 / n_b)) AS z_score,
      |  CAST((conv_a * 1048576) // n_a AS BIGINT) AS rate_a_q,
      |  CAST((conv_b * 1048576) // n_b AS BIGINT) AS rate_b_q
      |FROM a""".stripMargin

  /** Purged temporal split with an EMBARGO gap (the de Prado
    * purged-CV discipline, the time-series sibling of
    * [[graft.operators.Corpus.datasetSplit]]'s hash split): train =
    * events up to the 70%-of-span cut, then a 7-day embargo DROPPED
    * from both sides, then validation — the gap absorbs the label /
    * feature lookahead that makes naive temporal splits leak
    * (rolling features computed at train-tail timestamps see val-head
    * events). Emits one row per zone (train/embargo/val) with event
    * and user mass and the exact day span; the defining property —
    * min(val.day) − max(train.day) > embargo — is an EXECUTED spec
    * assertion, as is zones-partition-the-stream. Cut and span are
    * data-derived integers (the categoryDrift midpoint rule). Scale
    * shape: one scalar bounds fold, then one conditional
    * partial+final pass (exact distinct users per zone — the Expand
    * trade at |zones| = 3). */
  def embargoSplit(spark: SparkSession, dir: String): DataFrame = {
    val day = expr("unix_micros(ts) div 86400000000")
    val b = Tables.events(spark, dir).agg(min(day).as("mn"), max(day).as("mx")).head()
    if (b.isNullAt(0)) {
      return Tables.events(spark, dir)
        .select(col("event_type").as("zone"), col("user_id").as("n_events"),
          col("user_id").as("n_users"), col("user_id").as("min_day"),
          col("user_id").as("max_day")).limit(0)
    }
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val cut = mn + (mx - mn) * 7L / 10L
    val emb = cut + 7L
    Tables.events(spark, dir)
      .select(col("user_id"), day.as("d"))
      .select(col("user_id"), col("d"),
        when(col("d") <= cut, "train")
          .when(col("d") <= emb, "embargo").otherwise("val").as("zone"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"),
        min(col("d")).as("min_day"), max(col("d")).as("max_day"))
  }

  private[operators] def embargoSplitSql: String =
    """WITH b AS (SELECT min(epoch_ns(ts) // 1000 // 86400000000) AS mn,
      |             max(epoch_ns(ts) // 1000 // 86400000000) AS mx FROM events),
      |z AS (SELECT user_id, epoch_ns(ts) // 1000 // 86400000000 AS d,
      |        CASE WHEN epoch_ns(ts) // 1000 // 86400000000
      |               <= b.mn + (b.mx - b.mn) * 7 // 10 THEN 'train'
      |             WHEN epoch_ns(ts) // 1000 // 86400000000
      |               <= b.mn + (b.mx - b.mn) * 7 // 10 + 7 THEN 'embargo'
      |             ELSE 'val' END AS zone
      |      FROM events, b)
      |SELECT zone, count(*) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(min(d) AS BIGINT) AS min_day, CAST(max(d) AS BIGINT) AS max_day
      |FROM z GROUP BY zone""".stripMargin

  /** Referential-integrity audit — the FOREIGN-KEY tier of the DQ
    * family ([[graft.operators.DataQuality.dqChecks]] is intra-row,
    * [[temporalAudit]] cross-row-temporal; this is cross-TABLE): per
    * declared FK edge, the child population and the orphan mass
    * (child rows whose key has no parent — the repair queue of an
    * ingestion bug), orphan share on the 2²⁰ lattice. The
    * events.user_id → customer edge is deliberately included even
    * though it ISN'T clean by construction: event streams routinely
    * carry pre-signup/anonymous ids, and measuring that mass is the
    * op's production reading. Scale shape: each table is scanned once
    * and `inline`s a (rule_id, k, child) row for every edge it is a
    * child or parent of (NULL parent keys match nothing and are
    * dropped). One
    * key-only aggregate by (rule_id, k) co-groups child and parent
    * rows, so no join is needed: a key's child rows are orphans when
    * it has no parent row. Then one rollup by rule, |edges| rows. */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val tables = Seq(
      "lineitem" -> Tables.lineitem(spark, dir), "orders" -> Tables.orders(spark, dir),
      "customer" -> Tables.customer(spark, dir), "part" -> Tables.part(spark, dir),
      "supplier" -> Tables.supplier(spark, dir), "nation" -> Tables.nation(spark, dir),
      "events" -> Tables.events(spark, dir))
    tables.map { case (name, df) =>
      df.select(inline(array(FkEdges.zipWithIndex.flatMap { case ((_, ct, ck, pt, pk), id) =>
        Seq((ct, ck, 1L), (pt, pk, 0L)).collect { case (`name`, k, child) =>
          struct(lit(id).as("rule_id"), col(k).cast("long").as("k"), lit(child).as("child")) }
      }: _*)))
    }.reduce(_ unionAll _)
      .filter(col("child") === 1L || col("k").isNotNull)
      .groupBy(col("rule_id"), col("k"))
      .agg(sum(col("child")).as("nc"), min(col("child")).as("orphan"))
      .filter(col("nc") > 0L)
      .groupBy(col("rule_id"))
      .agg(sum(col("nc")).as("n_child"), sum(col("nc") * col("orphan")).as("n_orphan"))
      .transform(DataQuality.everyRule(spark, FkEdges.map(_._1), _))
      .select(col("rule"), coalesce(col("n_child"), lit(0L)).as("n_child"), col("n_orphan"),
        expr("cast((cast(n_orphan as decimal(38,0)) * 1048576) div greatest(n_child, 1) as bigint)")
          .as("orphan_q"))
  }

  /** (rule, child table, child key, parent table, parent key) */
  private[operators] val FkEdges = Seq(
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events_customer", "events", "user_id", "customer", "c_custkey"))

  private[operators] def refIntegritySql: String =
    FkEdges.map { case (name, child, ck, parent, pk) =>
      s"""SELECT '$name' AS rule, count(*) AS n_child,
         |  CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
         |  CAST((CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS HUGEINT)
         |       * 1048576) // greatest(count(*), 1) AS BIGINT) AS orphan_q
         |FROM $child c LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
         |  ON c.$ck = p.$pk""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** CUPED variance-reduction estimator (Deng et al. 2013) — the
    * experimentation-platform technique above [[abTest]]'s plain
    * two-proportion readout: adjust the post-period metric by the
    * PRE-period covariate, ŷ = y − θ·(x − x̄), with θ = cov(x,y)/
    * var(x) pooled across arms. Here x/y are each user's revenue
    * cents in the first/second half of the time range (the
    * [[categoryDrift]] data-derived midpoint), arms by [[abTest]]'s
    * Knuth hash, and θ lives on the 2²⁰ lattice in cleared-
    * denominator form, θ_q = ((n·Σxy − Σx·Σy)·2²⁰) div (n·Σx² −
    * (Σx)²) — every product DECIMAL(38), and the possibly-NEGATIVE
    * numerator truncates toward zero identically on both engines
    * (JVM/Spark `div` and DuckDB integer `//` both truncate —
    * MEASURED, see audio_resample). Emitted: θ_q, per-arm mean y,
    * the raw A−B delta and the CUPED-adjusted delta = Δy − (θ_q·Δx)
    * div 2²⁰ — the number the experiment readout actually ships.
    * Scale shape: one per-user partial+final fold of events, then a
    * single 1-row aggregate; no joins. */
  def cupedAdjust(spark: SparkSession, dir: String): DataFrame = {
    val usec = expr("unix_micros(ts)")
    val bounds = Tables.events(spark, dir)
      .agg(min(usec).as("mn"), max(usec).as("mx")).head()
    // degenerate corpus: keep going with mid = 0 — the 1-row aggregate
    // then emits (0, NULL, ...) exactly like the oracle's empty-sum row
    val mid =
      if (bounds.isNullAt(0)) 0L
      else (bounds.getLong(0) + bounds.getLong(1)) / 2L
    val h = ((col("user_id") % lit(2147483648L)) * lit(2654435761L)) % lit(4294967296L)
    val per = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        when(usec <= mid, expr("cast(floor(value * 100 + 0.5) as bigint)"))
          .otherwise(0L).as("x"),
        when(usec > mid, expr("cast(floor(value * 100 + 0.5) as bigint)"))
          .otherwise(0L).as("y"))
      .groupBy(col("user_id"))
      .agg(sum(col("x")).as("x"), sum(col("y")).as("y"))
      .select(when(h < lit(2147483648L), "A").otherwise("B").as("arm"),
        col("x").cast(DecimalType(38, 0)).as("x"),
        col("y").cast(DecimalType(38, 0)).as("y"))
    per.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === "A", col("x")).otherwise(lit(0L))).as("sxa"),
      sum(when(col("arm") === "A", col("y")).otherwise(lit(0L))).as("sya"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === "B", col("x")).otherwise(lit(0L))).as("sxb"),
      sum(when(col("arm") === "B", col("y")).otherwise(lit(0L))).as("syb"))
      .select(col("n").as("n_users"),
        expr("cast(((n * sxy - sx * sy) * 1048576) div greatest(n * sxx - sx * sx, 1) as bigint)")
          .as("theta_q"),
        expr("cast((sya * 1048576) div greatest(na, 1) as bigint)").as("mean_y_a_q"),
        expr("cast((syb * 1048576) div greatest(nb, 1) as bigint)").as("mean_y_b_q"),
        expr("cast((sya * 1048576) div greatest(na, 1) - (syb * 1048576) div greatest(nb, 1) as bigint)")
          .as("delta_raw_q"),
        expr("""cast((sya * 1048576) div greatest(na, 1) - (syb * 1048576) div greatest(nb, 1)
          - (cast(((n * sxy - sx * sy) * 1048576) div greatest(n * sxx - sx * sx, 1) as decimal(38,0))
             * ((sxa * 1048576) div greatest(na, 1) - (sxb * 1048576) div greatest(nb, 1))) div 1048576
          as bigint)""").as("delta_adj_q"))
  }

  private[operators] def cupedAdjustSql: String =
    """WITH b AS (SELECT (min(epoch_ns(ts) // 1000) + max(epoch_ns(ts) // 1000)) // 2 AS mid
      |           FROM events),
      |per AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN epoch_ns(ts) // 1000 <= (SELECT mid FROM b)
      |             THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS HUGEINT) AS x,
      |    CAST(sum(CASE WHEN epoch_ns(ts) // 1000 > (SELECT mid FROM b)
      |             THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS HUGEINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |armed AS (
      |  SELECT CASE WHEN ((user_id % 2147483648) * 2654435761) % 4294967296
      |              < 2147483648 THEN 'A' ELSE 'B' END AS arm, x, y
      |  FROM per),
      |a AS (SELECT CAST(count(*) AS HUGEINT) AS n,
      |        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
      |        CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS HUGEINT) AS na,
      |        sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS sxa,
      |        sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS sya,
      |        CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS HUGEINT) AS nb,
      |        sum(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS sxb,
      |        sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS syb
      |      FROM armed)
      |SELECT CAST(n AS BIGINT) AS n_users,
      |  CAST(((n * sxy - sx * sy) * 1048576) // greatest(n * sxx - sx * sx, 1) AS BIGINT) AS theta_q,
      |  CAST((sya * 1048576) // greatest(na, 1) AS BIGINT) AS mean_y_a_q,
      |  CAST((syb * 1048576) // greatest(nb, 1) AS BIGINT) AS mean_y_b_q,
      |  CAST((sya * 1048576) // greatest(na, 1)
      |       - (syb * 1048576) // greatest(nb, 1) AS BIGINT) AS delta_raw_q,
      |  CAST((sya * 1048576) // greatest(na, 1) - (syb * 1048576) // greatest(nb, 1)
      |       - ((((n * sxy - sx * sy) * 1048576) // greatest(n * sxx - sx * sx, 1))
      |          * ((sxa * 1048576) // greatest(na, 1)
      |             - (sxb * 1048576) // greatest(nb, 1))) // 1048576 AS BIGINT) AS delta_adj_q
      |FROM a""".stripMargin

  /** Two-sample Kolmogorov–Smirnov distance between the lifetime-spend
    * distributions of two market segments — the NUMERIC
    * distribution-drift companion to the categorical
    * [[categoryDrift]]: did AUTOMOBILE customers' spend distribution
    * shift against BUILDING's? D is computed EXACTLY on a
    * [[KsBuckets]]-bucket ECDF lattice (bucket = (cents·K) div
    * (max+1), the documented bucketed-KS semantics — bucket
    * boundaries are where a step ECDF can differ most, and the
    * lattice makes both engines compare identical integers):
    * `d_q = max |c1·2²⁰ div n1 − c2·2²⁰ div n2|` over cumulative
    * bucket counts, plus the classic α=0.05 rejection flag against
    * `1.358·√((n1+n2)/(n1·n2))` (one IEEE comparison of
    * exact-integer-derived doubles — the [[autocorrLag7]]
    * discipline). Scale shape: fact folds to |customers| once
    * (partial+final), the max-spend anchor is one scalar aggregate
    * (the [[categoryDrift]] precedent), bucket counts fold to ≤ K
    * rows, and the cumulative sum is the lorenz-style triangular
    * broadcast join over K·(K+1)/2 metadata rows — no global sort,
    * no single-partition window. */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val segs = Seq("AUTOMOBILE", "BUILDING")
    val per = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("m"))
      .join(Tables.customer(spark, dir)
        .filter(col("c_mktsegment").isin(segs: _*))
        .select(col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"), col("m"))
      .persistScoped()
    // degenerate corpus (no AUTOMOBILE/BUILDING customers, or no
    // orders): max(m) is NULL — getLong would NPE. The 0L fallback is
    // inert (b is empty, so the bucket expression never evaluates)
    // and the downstream lineage then lands on the same single
    // (NULL, NULL, NULL, 0) row the DuckDB oracle emits.
    val mxRow = per.agg(max(col("m"))).head()
    val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
    val b = per
      .select(col("seg"),
        expr(s"(m * $KsBuckets) div ${mx + 1L}").as("b"))
      .groupBy(col("b"))
      .agg(sum(when(col("seg") === segs.head, 1L).otherwise(0L)).as("x1"),
        sum(when(col("seg") === segs.last, 1L).otherwise(0L)).as("x2"))
      .persistScoped()
    val pairs = (for { hi <- 0L until KsBuckets; lo <- 0L to hi } yield (hi, lo))
      .toDF("hb", "b")
    val cum = broadcast(pairs).join(b, "b")
      .groupBy(col("hb"))
      .agg(sum(col("x1")).as("c1"), sum(col("x2")).as("c2"))
    val tot = b.agg(sum(col("x1")).as("n1"), sum(col("x2")).as("n2"))
    ScalarJoin.attachScalar(cum, col("c1") + col("c2"), tot, col("n1") + col("n2"))
      .select(
        abs(expr("(c1 * cast(1048576 as bigint)) div n1") -
          expr("(c2 * cast(1048576 as bigint)) div n2")).as("dq"),
        col("n1"), col("n2"))
      .agg(max(col("dq")).as("d_q"), max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .withColumn("reject_05",
        when(col("d_q").cast("double") / lit(1048576.0)
          > lit(1.358) * sqrt((col("n1") + col("n2")).cast("double")
            / (col("n1") * col("n2")).cast("double")), 1L).otherwise(0L))
  }

  private[operators] val KsBuckets = 256L

  private[operators] def ksTestSql: String =
    """WITH per AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      |  GROUP BY o.o_custkey, c.c_mktsegment),
      |mx AS (SELECT max(m) AS mx FROM per),
      |b AS (SELECT (m * 256) // (mx + 1) AS b,
      |        CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS x1,
      |        CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS x2
      |      FROM per, mx GROUP BY 1),
      |grid AS (SELECT unnest(range(256)) AS hb),
      |cum AS (SELECT g.hb, CAST(sum(b.x1) AS BIGINT) AS c1, CAST(sum(b.x2) AS BIGINT) AS c2
      |        FROM grid g JOIN b ON b.b <= g.hb GROUP BY 1),
      |tot AS (SELECT CAST(sum(x1) AS BIGINT) AS n1, CAST(sum(x2) AS BIGINT) AS n2 FROM b),
      |d AS (SELECT max(abs((c1 * 1048576) // n1 - (c2 * 1048576) // n2)) AS d_q,
      |        max(n1) AS n1, max(n2) AS n2
      |      FROM cum, tot)
      |SELECT CAST(d_q AS BIGINT) AS d_q, n1, n2,
      |  CAST(CASE WHEN CAST(d_q AS DOUBLE) / 1048576.0
      |            > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
      |       THEN 1 ELSE 0 END AS BIGINT) AS reject_05
      |FROM d""".stripMargin

  /** Monthly return-rate trend — the quality KPI a merchandising org
    * tracks per month: returned-line share of all lines on the 2²⁰
    * lattice plus its month-over-month delta. Fold-below-window (the
    * [[drawdown]] contract): the fact stream folds to |months| rows
    * in one partial+final conditional aggregate; the delta window
    * orders metadata only. Deltas are exact lattice differences (the
    * first month's delta is 0 by the coalesce, a pinned convention —
    * NULL would make the row incomparable cross-engine). */
  def returnRateTrend(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("m").asc)
    Tables.lineitem(spark, dir)
      .select(
        expr("(cast(datediff(cast(l_shipdate as date), date'1970-01-01') as bigint)) div 30")
          .as("m"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_items"), sum(col("ret")).as("n_returned"))
      .withColumn("rate_q",
        expr("cast((n_returned * cast(1048576 as bigint)) div n_items as bigint)"))
      .withColumn("rate_delta_q",
        coalesce(col("rate_q") - lag(col("rate_q"), 1).over(w), lit(0L)))
  }

  private[operators] def returnRateTrendSql: String =
    """WITH g AS (
      |  SELECT (CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)) // 30 AS m,
      |    count(*) AS n_items,
      |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT m, n_items, n_returned,
      |        CAST((n_returned * 1048576) // n_items AS BIGINT) AS rate_q
      |      FROM g)
      |SELECT m, n_items, n_returned, rate_q,
      |  coalesce(rate_q - lag(rate_q, 1) OVER (ORDER BY m), 0) AS rate_delta_q
      |FROM r""".stripMargin

  /** Hierarchical contribution shares — the percent-of-parent OLAP
    * readout [[aggRollup]]'s level rows don't give directly: per
    * nation, its revenue, its share WITHIN its region, and its
    * region's share of the world, all on the 2²⁰ lattice. One fact
    * fold to nation grain (partial+final); region and world totals
    * are |nations|-row re-aggregates of that fold attached by
    * broadcast joins (the [[tradeMatrix]] row-total pattern) — the
    * fact table is read once. */
  def rollupShare(spark: SparkSession, dir: String): DataFrame = {
    val byNation = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"))
      .join(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(sum(col("cents")).as("cents"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("nation"),
          col("n_regionkey"))), "s_nationkey")
      .join(broadcast(Tables.region(spark, dir)
        .select(col("r_regionkey").as("n_regionkey"), col("r_name").as("region"))),
        "n_regionkey")
      .persistScoped()
    val byRegion = byNation.groupBy(col("region").as("rg"))
      .agg(sum(col("cents").cast(DecimalType(38, 0))).as("r_cents"))
    val world = byNation.agg(sum(col("cents").cast(DecimalType(38, 0))).as("w_cents"))
    ScalarJoin.attachScalar(
      byNation.join(broadcast(byRegion), col("region") === col("rg")),
      col("cents"), world, col("w_cents"))
      .select(col("nation"), col("region"), col("cents"),
        expr("cast((cast(cents as decimal(38,0)) * 1048576) div r_cents as bigint)")
          .as("in_region_q"),
        expr("cast((r_cents * 1048576) div w_cents as bigint)").as("region_share_q"))
  }

  private[operators] def rollupShareSql: String =
    """WITH n AS (
      |  SELECT nn.n_name AS nation, r.r_name AS region,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation nn ON s_nationkey = nn.n_nationkey
      |  JOIN region r ON nn.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2),
      |rg AS (SELECT region, CAST(sum(cents) AS HUGEINT) AS r_cents FROM n GROUP BY 1),
      |w AS (SELECT CAST(sum(cents) AS HUGEINT) AS w_cents FROM n)
      |SELECT n.nation, n.region, n.cents,
      |  CAST((CAST(n.cents AS HUGEINT) * 1048576) // rg.r_cents AS BIGINT) AS in_region_q,
      |  CAST((rg.r_cents * 1048576) // (SELECT w_cents FROM w) AS BIGINT) AS region_share_q
      |FROM n JOIN rg USING (region)""".stripMargin

  /** Seasonal-naive forecast backtest — the sanity loop a
    * demand-planning team closes before trusting any forecast:
    * forecast(m) = rev(m−12) × (Σ rev(m−3..m−1) div Σ rev(m−15..m−13))
    * — last year's same month, re-leveled by the trailing-quarter
    * growth ratio — scored in-sample with the absolute percentage
    * error on the 2²⁰ lattice. All arithmetic is integral: the
    * growth ratio is one 2²⁰-scaled DECIMAL(38) division, the
    * forecast one multiply-then-unscale, APE an exact quotient of
    * cents. Only months with the full 15-month history emit (the lag
    * and both trailing windows non-null — a partial-history forecast
    * is a different contract). Fold-below-window: the fact stream
    * folds to |months| rows first; every window orders metadata. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("m").asc)
    val recent = Window.orderBy(col("m").asc).rowsBetween(-3, -1)
    val yearAgo = Window.orderBy(col("m").asc).rowsBetween(-15, -13)
    Tables.orders(spark, dir)
      .select(
        expr("(cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)) div 30")
          .as("m"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("m")).agg(sum(col("cents")).as("actual"))
      .withColumn("base", lag(col("actual"), 12).over(w))
      .withColumn("s_recent", sum(col("actual")).over(recent))
      .withColumn("s_yearago", sum(col("actual")).over(yearAgo))
      .withColumn("n_hist", count(lit(1)).over(Window.orderBy(col("m").asc)
        .rowsBetween(-15, -1)))
      .filter(col("n_hist") === 15L && col("base").isNotNull)
      .withColumn("ratio_q",
        expr("cast((cast(s_recent as decimal(38,0)) * 1048576) div s_yearago as bigint)"))
      .withColumn("forecast",
        expr("cast((cast(base as decimal(38,0)) * ratio_q) div 1048576 as bigint)"))
      .select(col("m"), col("actual"), col("forecast"),
        expr("cast((abs(actual - forecast) * cast(1048576 as decimal(38,0))) div actual as bigint)")
          .as("ape_q"))
  }

  private[operators] def forecastBacktestSql: String =
    """WITH g AS (
      |  SELECT (CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)) // 30 AS m,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS actual
      |  FROM orders GROUP BY 1),
      |x AS (SELECT m, actual,
      |        lag(actual, 12) OVER win AS base,
      |        sum(actual) OVER (ORDER BY m ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS s_recent,
      |        sum(actual) OVER (ORDER BY m ROWS BETWEEN 15 PRECEDING AND 13 PRECEDING) AS s_yearago,
      |        count(*) OVER (ORDER BY m ROWS BETWEEN 15 PRECEDING AND 1 PRECEDING) AS n_hist
      |      FROM g WINDOW win AS (ORDER BY m)),
      |f AS (SELECT m, actual,
      |        CAST((CAST(base AS HUGEINT)
      |              * ((CAST(s_recent AS HUGEINT) * 1048576) // s_yearago))
      |             // 1048576 AS BIGINT) AS forecast
      |      FROM x WHERE n_hist = 15 AND base IS NOT NULL)
      |SELECT m, actual, forecast,
      |  CAST((abs(actual - forecast) * CAST(1048576 AS HUGEINT)) // actual AS BIGINT) AS ape_q
      |FROM f""".stripMargin

  /** The SES recurrence over a (day, cents) series, factored for the
    * spec's planted hand-checks: s₁ = c₁, s_d = (3·s_{d−1} + c_d) div 4
    * (α = 1/4 as an exact dyadic; the recurrence stays non-negative
    * from non-negative cents, so Long `/` and DuckDB integer `//`
    * agree trivially), fcst_d = s_{d−1} (the one-step-ahead
    * forecast), err = |c − fcst|.
    * Returns (day, cents, smooth, fcst, abs_err) in day order. */
  private[operators] def sesScan(daily: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long, Long)] = {
    var smooth = 0L
    daily.sortBy(_._1).zipWithIndex.map { case ((day, cents), i) =>
      val fcst = if (i == 0) cents else smooth
      smooth = if (i == 0) cents else (3L * smooth + cents) / 4L
      (day, cents, smooth, fcst, math.abs(cents - fcst))
    }
  }

  /** Simple-exponential-smoothing one-step backtest over the daily
    * revenue series — the SMOOTHING-RECURRENCE primitive of the
    * forecasting family, beside [[forecastBacktest]]'s seasonal-naive
    * model: s_d = α·c_d + (1−α)·s_{d−1} with α = 1/4 kept exact as
    * the integer recurrence s_d = (3·s_{d−1} + c_d) div 4 (a float α
    * would drift between engines; the dyadic lattice IS the
    * cross-engine contract — the lsh_threshold_plan rule), scored by
    * the one-step-ahead absolute error |c_d − s_{d−1}|. A recurrence
    * is inherently sequential: the fact stream folds partial+final to
    * |days| rows (≤ ~2.5k at ANY corpus size — the date domain, not
    * the row count, bounds it) and the scan runs in driver metadata
    * ([[sesScan]], the ltv_curve collect rationale); the oracle
    * replays it as a DuckDB recursive CTE. The returned frame is a
    * LocalTableScan (the pca_power rule). */
  def sesForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .select(
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)")
          .as("day"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("cents"))
      // scale: collect is |distinct days| rows — CALENDAR-bounded
      // (~2.5k for the fixture's 7-year span), invariant in corpus
      // size; the aggregate above folds the data volume distributed
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    sesScan(daily).toDF("day", "cents", "smooth", "fcst", "abs_err")
  }

  private[operators] def sesForecastSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |i AS (SELECT day, cents, row_number() OVER (ORDER BY day ASC) AS rn FROM d),
      |s AS (
      |  SELECT rn, day, cents, cents AS smooth FROM i WHERE rn = 1
      |  UNION ALL
      |  SELECT i.rn, i.day, i.cents, (3 * s.smooth + i.cents) // 4
      |  FROM s JOIN i ON i.rn = s.rn + 1)
      |SELECT day, cents, CAST(smooth AS BIGINT) AS smooth,
      |  CAST(coalesce(lag(smooth) OVER (ORDER BY rn), cents) AS BIGINT) AS fcst,
      |  CAST(abs(cents - coalesce(lag(smooth) OVER (ORDER BY rn), cents)) AS BIGINT) AS abs_err
      |FROM s""".stripMargin

  /** Cumulative LTV curve by tenure month — the "how much is a
    * customer worth after t months" readout a growth team plans
    * acquisition spend against: spend folds to (customer, tenure)
    * where tenure = order month − the customer's first-order month,
    * then per tenure the curve reports how many customers are
    * OBSERVABLE at that tenure (first month early enough for t
    * months of history — censoring must divide by the at-risk mass,
    * not the whole base), the spend landing at that tenure, the
    * cumulative spend through it, and the per-observable-customer
    * cumulative average on the cent lattice. Scale shape: two
    * chained partial+final folds (fact → per-customer-month → per
    * tenure), the observability mass one |cohorts|-row broadcast
    * fold, cumulation the lorenz-style triangular broadcast over the
    * |tenures| grid, and the max-month anchor a scalar aggregate
    * (the [[categoryDrift]] precedent). No window at all. */
  def ltvCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val om = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("(cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)) div 30")
          .as("m"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("o_custkey"), col("m")).agg(sum(col("cents")).as("cents"))
      .persistScoped()
    val first = om.groupBy(col("o_custkey")).agg(min(col("m")).as("fm"))
      .persistScoped()
    // empty orders fixture → max(m) NULL; 0L keeps the lineage alive
    // and every downstream join is empty, matching the oracle's
    // empty result (the ks_test degenerate-corpus rule)
    val maxMRow = om.agg(max(col("m"))).head()
    val maxM = if (maxMRow.isNullAt(0)) 0L else maxMRow.getLong(0)
    val perTenure = om.join(first, "o_custkey")
      .select((col("m") - col("fm")).as("t"), col("cents"))
      .groupBy(col("t")).agg(sum(col("cents")).as("cents"))
      .persistScoped()
    val observable = first
      .select((lit(maxM) - col("fm")).as("maxt"))
      .groupBy(col("maxt")).agg(count(lit(1)).as("nc"))
    val tGrid = perTenure.select(col("t"))
    val obsAt = ScalarJoin.broadcastCross(tGrid, col("t") + lit(1L),
      observable, col("nc"))
      .filter(col("maxt") >= col("t"))
      .groupBy(col("t")).agg(sum(col("nc")).as("observable"))
    // |tenures| ≤ |months| — driver metadata (the lorenz-grid
    // precedent), so the triangular pair grid is an equi-join, not a
    // BNLJ range join
    val ts = perTenure.select(col("t")).as[Long].collect().sorted
    val pairs = ts.flatMap(hi => ts.filter(_ <= hi).map(lo => (hi, lo))).toSeq
      .toDF("hb", "b")
    val cum = broadcast(pairs)
      .join(perTenure.select(col("t").as("b"), col("cents").as("c2")), "b")
      .groupBy(col("hb")).agg(sum(col("c2").cast(DecimalType(38, 0))).as("cum_cents"))
    perTenure.join(obsAt, "t")
      .join(broadcast(cum), col("t") === col("hb"))
      .select(col("t"), col("observable"), col("cents"),
        col("cum_cents").cast("long").as("cum_cents"),
        expr("cast(cum_cents div observable as bigint)").as("avg_cum_cents"))
  }

  private[operators] def ltvCurveSql: String =
    """WITH om AS (
      |  SELECT o_custkey,
      |    (CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)) // 30 AS m,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2),
      |fst AS (SELECT o_custkey, min(m) AS fm FROM om GROUP BY 1),
      |mx AS (SELECT max(m) AS maxm FROM om),
      |pt AS (SELECT om.m - fst.fm AS t, CAST(sum(om.cents) AS BIGINT) AS cents
      |       FROM om JOIN fst USING (o_custkey) GROUP BY 1),
      |obs AS (SELECT pt.t, count(*) AS observable
      |        FROM pt, fst, mx WHERE (mx.maxm - fst.fm) >= pt.t GROUP BY pt.t),
      |cum AS (SELECT a.t AS hb, CAST(sum(b.cents) AS HUGEINT) AS cum_cents
      |        FROM pt a JOIN pt b ON b.t <= a.t GROUP BY 1)
      |SELECT pt.t, obs.observable, pt.cents,
      |  CAST(cum.cum_cents AS BIGINT) AS cum_cents,
      |  CAST(cum.cum_cents // obs.observable AS BIGINT) AS avg_cum_cents
      |FROM pt JOIN obs USING (t) JOIN cum ON cum.hb = pt.t""".stripMargin

  /** ABC (Pareto-class) inventory classification of parts by revenue
    * — the supply-chain standard ("A-parts: the few that carry 70 %
    * of revenue; B: the next 20; C: the long tail"): parts rank by
    * exact cent revenue under the total order (revenue desc, key asc)
    * and classify by CUMULATIVE share — A while cum ≤ 70 % of total,
    * B while ≤ 90 %, else C (boundaries inclusive, cross-multiplied:
    * cum·10 ≤ tot·7 — no fraction lattice needed for a comparison).
    * Emits the 3-row class rollup (count, cents, revenue share on
    * 2²⁰).
    *
    * Scale shape — the distributed prefix sum: the |parts| fold gets
    * a RANGE-PARTITIONED sort (the [[globalBand]] machinery — never
    * a single-partition window), one lightweight pass collects the
    * per-partition sums (|partitions| numbers to the driver), their
    * scan becomes broadcast offsets, and a second pass stamps each
    * row's running total as offset + local prefix — exact BigInt
    * throughout, so cumulative cents can pass 2⁶³ at any corpus
    * size. DuckDB replays the same total order with a window sum. */
  def abcClass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("key"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("key")).agg(sum(col("cents")).as("x"))
      .persistScoped()
    val sorted = per.orderBy(col("x").desc, col("key").asc)
      .select(col("key"), col("x")).as[(Long, Long)].rdd
    sorted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = sorted
      .mapPartitionsWithIndex { case (i, it) =>
        Iterator((i, it.foldLeft(BigInt(0))(_ + _._2).toString))
      }.collect().sortBy(_._1).map(s => BigInt(s._2))
    val offsets = partSums.scanLeft(BigInt(0))(_ + _)
    val tot = offsets.last
    val bcOff = spark.sparkContext.broadcast(offsets.map(_.toString))
    val totS = tot.toString
    val classified = sorted.mapPartitionsWithIndex { case (i, it) =>
      var run = BigInt(bcOff.value(i))
      val t = BigInt(totS)
      it.map { case (_, x) =>
        run += x
        val abc = if (run * 10 <= t * 7) "A"
        else if (run * 10 <= t * 9) "B" else "C"
        (abc, x)
      }
    }
    classified.toDF("abc", "x")
      .groupBy(col("abc"))
      .agg(count(lit(1)).as("n_parts"), sum(col("x")).as("cents"))
      .select(col("abc"), col("n_parts"), col("cents"),
        expr(s"cast((cast(cents as decimal(38,0)) * 1048576) div cast('$totS' as decimal(38,0)) as bigint)")
          .as("share_q"))
  }

  private[operators] def abcClassSql: String =
    """WITH per AS (
      |  SELECT l_partkey AS key,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(x) AS HUGEINT) AS tot FROM per),
      |r AS (SELECT key, x,
      |        sum(CAST(x AS HUGEINT)) OVER (ORDER BY x DESC, key ASC
      |          ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM per),
      |c AS (SELECT CASE WHEN cum * 10 <= tot * 7 THEN 'A'
      |                  WHEN cum * 10 <= tot * 9 THEN 'B'
      |                  ELSE 'C' END AS abc, x, tot
      |      FROM r, t)
      |SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(sum(x) AS BIGINT) AS cents,
      |  CAST((CAST(sum(x) AS HUGEINT) * 1048576) // tot AS BIGINT) AS share_q
      |FROM c GROUP BY abc, tot""".stripMargin

  /** Monthly repeat-order rate — the loyalty KPI ("what share of this
    * month's orders came from customers we'd already served"): each
    * order ranks within its customer's lifetime by (date, orderkey),
    * rank ≥ 2 marks a repeat, and months roll up count / repeats /
    * repeat share on the 2²⁰ lattice. One customer-keyed exchange
    * feeds the lifetime window (partition by o_custkey — distributed,
    * never global), then the month rollup partial+final-combines;
    * months are metadata-scale. */
  def repeatRate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("od").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("od"))
      .withColumn("rn", row_number().over(w))
      .groupBy(expr("od div 30").as("m"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("rn") >= 2, 1L).otherwise(0L)).as("n_repeat"))
      .withColumn("repeat_share_q",
        expr("cast((n_repeat * cast(1048576 as bigint)) div n_orders as bigint)"))
  }

  private[operators] def repeatRateSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS od
      |  FROM orders),
      |r AS (SELECT od,
      |        row_number() OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) AS rn
      |      FROM o)
      |SELECT od // 30 AS m, count(*) AS n_orders,
      |  CAST(sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
      |  CAST((sum(CASE WHEN rn >= 2 THEN 1 ELSE 0 END) * 1048576) // count(*) AS BIGINT)
      |    AS repeat_share_q
      |FROM r GROUP BY 1""".stripMargin

  /** Order-size histogram — lines-per-order distribution plus each
    * size's share of all orders on the 2²⁰ lattice (the order-shape
    * profile capacity planning and fraud screens read). Two chained
    * partial+final folds (fact → |orders| → |sizes|); the total
    * attaches by [[ScalarJoin]] broadcast; output is ≤ max-size rows
    * at any corpus scale. */
  def orderSizeHist(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
      .groupBy(col("n_lines")).agg(count(lit(1)).as("n_orders"))
      .persistScoped()
    val tot = g.agg(sum(col("n_orders")).as("nt"))
    ScalarJoin.attachScalar(g, col("n_orders"), tot, col("nt"))
      .select(col("n_lines"), col("n_orders"),
        expr("cast((n_orders * cast(1048576 as bigint)) div nt as bigint)").as("share_q"))
  }

  private[operators] def orderSizeHistSql: String =
    """WITH per AS (SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1),
      |g AS (SELECT n_lines, count(*) AS n_orders FROM per GROUP BY 1),
      |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS nt FROM g)
      |SELECT CAST(n_lines AS BIGINT) AS n_lines, CAST(n_orders AS BIGINT) AS n_orders,
      |  CAST((n_orders * 1048576) // nt AS BIGINT) AS share_q
      |FROM g, t""".stripMargin

  // fixture orders span 1995–2001 at every SF — two full interior
  // years so both slices are populated and the matrix is dense
  private[operators] val MigYearA = 1996
  private[operators] val MigYearB = 1997

  /** Customer spend-quintile migration matrix [[MigYearA]] →
    * [[MigYearB]] — the segment-transition table a CRM org reads for
    * upgrade/churn dynamics ("how many Q5 whales fell to Q2"): per
    * year, active customers band into exact spend quintiles via the
    * [[globalBand]] rank lattice (band 1 = lowest spend); customers
    * inactive in a year carry band 0 (entered / lapsed); the output
    * is the ≤ 6×6 transition count matrix. Scale shape: two
    * year-sliced fact folds, two DIMENSION-scale distributed sorts
    * (globalBand — no global window), one full-outer key join, and a
    * metadata-sized rollup. */
  def segmentMigration(spark: SparkSession, dir: String): DataFrame = {
    def spend(y: Int) = Tables.orders(spark, dir)
      .filter(expr(s"year(cast(o_orderdate as date)) = $y"))
      .select(col("o_custkey").as("key"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)").as("cents"))
      .groupBy(col("key")).agg(sum(col("cents")).as("x"))
      .persistScoped()
    val pa = spend(MigYearA)
    val pb = spend(MigYearB)
    val ba = globalBand(pa, "x", pa.count(), "band_a")
    val bb = globalBand(pb, "x", pb.count(), "band_b")
    ba.join(bb, Seq("key"), "full_outer")
      .select(coalesce(col("band_a"), lit(0L)).as("band_a"),
        coalesce(col("band_b"), lit(0L)).as("band_b"))
      .groupBy(col("band_a"), col("band_b"))
      .agg(count(lit(1)).as("n_customers"))
  }

  private[operators] def segmentMigrationSql: String = {
    def yearCte(tag: String, y: Int) =
      s"""c$tag AS (
         |  SELECT o_custkey AS key,
         |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
         |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = $y GROUP BY 1),
         |n$tag AS (SELECT count(*) AS n FROM c$tag),
         |r$tag AS (SELECT key,
         |    CAST(((row_number() OVER (ORDER BY x ASC, key ASC) - 1) * $RfmBands) // n + 1
         |      AS BIGINT) AS band_$tag
         |  FROM c$tag, n$tag)""".stripMargin
    s"""WITH ${yearCte("a", MigYearA)},
       |${yearCte("b", MigYearB)}
       |SELECT COALESCE(ra.band_a, 0) AS band_a, COALESCE(rb.band_b, 0) AS band_b,
       |  count(*) AS n_customers
       |FROM ra FULL OUTER JOIN rb ON ra.key = rb.key
       |GROUP BY 1, 2""".stripMargin
  }

  /** Monthly DAU/MAU stickiness — the engagement ratio every consumer
    * dashboard headlines (Σ daily actives over the month ÷ days·MAU,
    * on the 2²⁰ lattice — 2²⁰ = every user active every day): the
    * event stream folds ONCE to distinct (user, day), daily actives
    * and monthly actives both derive from that fold, and months join
    * at metadata scale. Exact integers end to end. */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint)").as("d"))
      .distinct().persistScoped()
    val mdau = du.groupBy(col("d")).agg(count(lit(1)).as("dau"))
      .groupBy(expr("d div 30").as("m"))
      .agg(sum(col("dau")).as("sum_dau"), count(lit(1)).as("n_days"))
    val mau = du.select(expr("d div 30").as("m"), col("user_id")).distinct()
      .groupBy(col("m")).agg(count(lit(1)).as("mau"))
    mdau.join(mau, "m")
      .select(col("m"), col("n_days"), col("sum_dau"), col("mau"),
        expr("cast((sum_dau * cast(1048576 as bigint)) div (n_days * mau) as bigint)")
          .as("stickiness_q"))
  }

  private[operators] def stickinessSql: String =
    """WITH du AS (
      |  SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
      |  FROM events),
      |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY 1),
      |md AS (SELECT d // 30 AS m, CAST(sum(dau) AS BIGINT) AS sum_dau,
      |         count(*) AS n_days
      |       FROM dau GROUP BY 1),
      |mau AS (SELECT m, count(*) AS mau FROM (
      |          SELECT DISTINCT d // 30 AS m, user_id FROM du) GROUP BY 1)
      |SELECT md.m, CAST(n_days AS BIGINT) AS n_days, sum_dau,
      |  CAST(mau AS BIGINT) AS mau,
      |  CAST((sum_dau * 1048576) // (n_days * mau) AS BIGINT) AS stickiness_q
      |FROM md JOIN mau USING (m)""".stripMargin

  /** Inter-arrival time profile per event type — discrete p50/p90 of
    * the seconds between a user's consecutive same-type events (the
    * cadence baseline behind rate alerting and bot screens). Gaps are
    * exact epoch-second differences over a (type, user)-keyed window;
    * the percentile machinery is fold-below-window (the [[drawdown]]
    * contract): gaps fold to (type, gap, count) FIRST, the per-type
    * cumulative orders only the folded distinct-gap rows, and the
    * nearest-rank cut is a cross-multiplied comparison (cum·2 ≥ n for
    * p50 — no fraction, no interpolation; both engines pick the
    * identical integer). */
  def eventInterarrival(spark: SparkSession, dir: String): DataFrame = {
    // order by the TRUNCATED second (+ event_id tiebreak), not raw
    // ts: sub-second ordering is invisible after the truncation, and
    // the oracle must replay the identical sequence
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("s").asc, col("event_id").asc)
    val gaps = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        col("ts").cast("long").as("s"))
      .withColumn("gap_s", col("s") - lag(col("s"), 1).over(w))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"), col("gap_s")).agg(count(lit(1)).as("c"))
      .persistScoped()
    val tot = gaps.groupBy(col("event_type")).agg(sum(col("c")).as("n_gaps"))
    val w2 = Window.partitionBy(col("event_type")).orderBy(col("gap_s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gaps.withColumn("cum", sum(col("c")).over(w2))
      .join(broadcast(tot), "event_type")
      .groupBy(col("event_type"), col("n_gaps"))
      .agg(min(when(col("cum") * 2 >= col("n_gaps"), col("gap_s"))).as("p50_s"),
        min(when(col("cum") * 10 >= col("n_gaps") * 9, col("gap_s"))).as("p90_s"))
      .select(col("event_type"), col("n_gaps"), col("p50_s"), col("p90_s"))
  }

  private[operators] def eventInterarrivalSql: String =
    """WITH e AS (
      |  SELECT event_type, user_id, event_id,
      |    epoch_us(ts) // 1000000 AS s
      |  FROM events),
      |g AS (SELECT event_type,
      |        s - lag(s) OVER (PARTITION BY event_type, user_id
      |          ORDER BY s, event_id) AS gap_s
      |      FROM e),
      |f AS (SELECT event_type, gap_s, count(*) AS c
      |      FROM g WHERE gap_s IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_gaps FROM f GROUP BY 1),
      |cu AS (SELECT event_type, gap_s,
      |         sum(c) OVER (PARTITION BY event_type ORDER BY gap_s
      |           ROWS UNBOUNDED PRECEDING) AS cum
      |       FROM f)
      |SELECT cu.event_type, t.n_gaps,
      |  min(CASE WHEN cum * 2 >= n_gaps THEN gap_s END) AS p50_s,
      |  min(CASE WHEN cum * 10 >= n_gaps * 9 THEN gap_s END) AS p90_s
      |FROM cu JOIN t USING (event_type)
      |GROUP BY 1, 2""".stripMargin
}
