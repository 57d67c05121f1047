package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Data-quality audit — the validation pass a pipeline runs before
  * promoting a snapshot (rule → violation count), covering the five
  * rule shapes that matter at scale: intra-row predicates, referential
  * integrity, key uniqueness, domain/NaN checks, and cross-table
  * aggregate reconciliation ([[reconRule]]).
  *
  * Scale shape: every intra-row rule family over one table is ONE
  * conditional-aggregate scan (sum(CASE…) partials combine map-side,
  * so the audit costs one pass per table regardless of rule count,
  * then a Generate unpivots the 1-row aggregate into rule rows — no
  * extra scan per rule). Referential checks anti-join KEYS only (the
  * dim side broadcasts when small; at 100 TB the same plan degrades
  * to a shuffled key join — never a row-payload shuffle). Uniqueness
  * rides one key-only groupBy whose second-level aggregate also
  * yields the checked total for free. The final union is a union of
  * 1-row frames — no driver-side collection anywhere.
  */
object DataQuality {

  private def viol(cond: Column): Column = sum(when(cond, 1L).otherwise(0L))

  /** One scan over `df`: each (rule, predicate) becomes a violation
    * count column, then stack() unpivots to (rule, violations, checked)
    * rows. */
  private[operators] def intraRules(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val aggs = rules.map { case (n, c) => viol(c).as(n) } :+ count(lit(1)).as("_checked")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${rules.size}, ${rules.map(r => s"'${r._1}', ${r._1}").mkString(", ")}) AS (rule, violations)",
        "_checked AS checked")
  }

  /** Orphaned foreign keys: rows of `fact` whose `fkCol` has no match
    * in `dim.pkCol`. Key-only anti-join; checked = fact row count. */
  private[operators] def fkRule(
      name: String, fact: DataFrame, fkCol: String,
      dim: DataFrame, pkCol: String): DataFrame = {
    val orphans = fact.select(col(fkCol))
      .join(dim.select(col(pkCol)), col(fkCol) === col(pkCol), "left_anti")
      .agg(count(lit(1)).as("violations"))
    val total = fact.agg(count(lit(1)).as("checked"))
    ScalarJoin.attachScalar(orphans, col("violations"), total, col("checked"))
      .select(lit(name).as("rule"), col("violations"), col("checked"))
  }

  /** Cross-table aggregate reconciliation (r9 item): the class of
    * check that catches PIPELINE corruption (a lost partition, a
    * double-applied batch) rather than row-level noise — a header
    * total must equal the aggregate of its detail rows within a
    * tolerance. Per order: `o_totalprice` vs
    * Σ l_extendedprice·(1−l_discount)·(1+l_tax). Arithmetic contract:
    * the per-ROW term is one IEEE double product (bit-identical
    * cross-engine), summed as DECIMAL(30,6) (order-insensitive —
    * the q1/dsum pattern), compared against a DECIMAL tolerance, so
    * the violation count is exact. Orders with no lineitems
    * reconcile against 0 (COALESCE both sides). Scale shape: one
    * key-only partial+final aggregate over the detail table + one
    * key join to the header — no row payloads move. On the synthetic
    * fixture the header was generated independently of the details,
    * so every order violates — the rule correctly reports the corpus
    * as unreconciled (violations = checked). */
  private[operators] def reconRule(
      name: String, orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val tol = lit(new java.math.BigDecimal("0.01"))
    val zero = lit(0).cast("decimal(30,6)")
    val recon = lineitem.groupBy(col("l_orderkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * (lit(1.0) + col("l_tax"))).cast("decimal(30,6)")).as("recon"))
    orders.select(col("o_orderkey"), col("o_totalprice"))
      .join(recon, col("o_orderkey") === col("l_orderkey"), "left")
      .agg(
        viol(abs(col("o_totalprice").cast("decimal(30,6)")
          - coalesce(col("recon"), zero)) > tol).as("violations"),
        count(lit(1)).as("checked"))
      .select(lit(name).as("rule"), col("violations"), col("checked"))
  }

  /** Duplicate primary keys: every row of a key that appears more than
    * once counts as a violation; Σcount over the key groups doubles as
    * the checked total, so uniqueness costs one key-only aggregation. */
  private[operators] def uniqueRule(name: String, df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("k"))
      .agg(sum(when(col("k") > 1, col("k")).otherwise(0L)).as("violations"),
        sum(col("k")).as("checked"))
      .select(lit(name).as("rule"), col("violations"), col("checked"))

  /** Data-quality rule sweep — null/range/referential/uniqueness
    * rules, each one aggregate emitting (rule, violations, checked);
    * the union is |rules| rows at any corpus size. It stays a union,
    * not a fan-out by rule as [[fdAudit]] is: its rule kinds differ
    * and read different tables, so no parameter is shared. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val e = Tables.events(spark, dir)
    val d = Tables.documents(spark, dir)
    val parts = Seq(
      intraRules(o, Seq(
        "orders_date_bounds" ->
          (col("o_orderdate") < to_timestamp(lit("1992-01-01")) ||
            col("o_orderdate") > to_timestamp(lit("2005-12-31"))))),
      intraRules(c, Seq(
        "customer_acctbal_range" ->
          !col("c_acctbal").between(-1000.0, 10000.0))),
      intraRules(l, Seq(
        "lineitem_qty_positive" -> (col("l_quantity") <= 0.0),
        "lineitem_discount_range" -> !col("l_discount").between(0.0, 1.0))),
      intraRules(e, Seq(
        "events_value_finite" -> (col("value").isNull || isnan(col("value"))))),
      intraRules(d, Seq(
        "documents_text_nonempty" ->
          (col("text").isNull || length(col("text")) === 0))),
      fkRule("orders_custkey_fk", o, "o_custkey", c, "c_custkey"),
      fkRule("lineitem_orderkey_fk", l, "l_orderkey", o, "o_orderkey"),
      uniqueRule("orders_orderkey_unique", o, "o_orderkey"),
      reconRule("orders_totalprice_recon", o, l))
    parts.reduce(_ unionAll _)
  }

  /** The literal (rule, rule_id) table left-joined to `perRule`, a
    * ≤ |rules|-row aggregate by `rule_id`: a rule with no input rows
    * keeps its row, with NULL aggregates as over an empty input. */
  private[operators] def everyRule(spark: SparkSession, rules: Seq[String],
      perRule: DataFrame): DataFrame =
    spark.createDataFrame(rules.zipWithIndex).toDF("rule", "rule_id")
      .join(broadcast(perRule), Seq("rule_id"), "left")

  /** Functional dependencies det → dep, given per frame as (rule, det,
    * dep) column triples: per rule, the determinant values, those with
    * more than one distinct dependent value, and the rows under those.
    * Each frame is scanned once and `inline`s a literal array of one
    * (rule_id, det, dep) struct per FD, as strings (the cast keeps
    * equality and NULLs); then one key-only partial+final aggregate by
    * (rule_id, det) and one by rule. */
  private[operators] def fdAudit(spark: SparkSession,
      tables: Seq[(DataFrame, Seq[(String, String, String)])]): DataFrame = {
    val rules = tables.flatMap(_._2.map(_._1))
    tables.map { case (df, fds) =>
      df.select(inline(array(fds.map { case (rule, det, dep) =>
        struct(lit(rules.indexOf(rule)).as("rule_id"), col(det).cast("string").as("det"),
          col(dep).cast("string").as("dep"))
      }: _*)))
    }.reduce(_ unionAll _)
      .groupBy(col("rule_id"), col("det"))
      .agg(countDistinct(col("dep")).as("nd"), count(lit(1)).as("n"))
      .groupBy(col("rule_id"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_viol_keys"),
        sum(when(col("nd") > 1, col("n")).otherwise(0L)).as("n_viol_rows"))
      .transform(everyRule(spark, rules, _))
      .select(col("rule"), coalesce(col("n_keys"), lit(0L)).as("n_keys"),
        col("n_viol_keys"), col("n_viol_rows"))
  }

  /** Functional-dependency audit — the schema-inference / data-contract
    * check ("is this column really determined by that one?") a
    * warehouse runs before declaring a candidate key or denormalizing:
    * for each claimed FD, how many determinant values exist, how many
    * carry more than one dependent value, and how many ROWS sit under
    * the violating keys (the repair cost). Four FDs spanning three
    * tables: part brand→type and name→brand, orders custkey→priority,
    * customer nation→segment — a mix the fixture both satisfies and
    * breaks, so the audit exercises non-zero and zero rows. Scale
    * shape ([[fdAudit]]): each table is scanned once for all its FDs,
    * and one key-column aggregate (no payload shuffle) serves every
    * FD; the result is |FDs| rows at any corpus size. */
  def fdCheck(spark: SparkSession, dir: String): DataFrame =
    fdAudit(spark, Seq(
      Tables.part(spark, dir) -> Seq(
        ("part_brand_type", "p_brand", "p_type"),
        ("part_name_brand", "p_name", "p_brand")),
      Tables.orders(spark, dir) -> Seq(
        ("orders_cust_priority", "o_custkey", "o_orderpriority")),
      Tables.customer(spark, dir) -> Seq(
        ("customer_nation_segment", "c_nationkey", "c_mktsegment"))))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_checks" -> dqChecks,
    "fd_check" -> fdCheck)

  val oracles: Map[String, String] = Map(
    "fd_check" ->
      """WITH f1 AS (SELECT count(DISTINCT p_type) AS nd, count(*) AS n
        |            FROM part GROUP BY p_brand),
        |f2 AS (SELECT count(DISTINCT p_brand) AS nd, count(*) AS n
        |       FROM part GROUP BY p_name),
        |f3 AS (SELECT count(DISTINCT o_orderpriority) AS nd, count(*) AS n
        |       FROM orders GROUP BY o_custkey),
        |f4 AS (SELECT count(DISTINCT c_mktsegment) AS nd, count(*) AS n
        |       FROM customer GROUP BY c_nationkey)
        |SELECT 'part_brand_type' AS rule, count(*) AS n_keys,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_keys,
        |  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) AS n_viol_rows
        |FROM f1
        |UNION ALL
        |SELECT 'part_name_brand', count(*),
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) FROM f2
        |UNION ALL
        |SELECT 'orders_cust_priority', count(*),
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) FROM f3
        |UNION ALL
        |SELECT 'customer_nation_segment', count(*),
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT) FROM f4""".stripMargin,
    "dq_checks" ->
      """SELECT 'orders_date_bounds' AS rule,
        |  CAST(count(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01'
        |        OR o_orderdate > TIMESTAMP '2005-12-31') AS BIGINT) AS violations,
        |  CAST(count(*) AS BIGINT) AS checked FROM orders
        |UNION ALL
        |SELECT 'customer_acctbal_range',
        |  CAST(count(*) FILTER (WHERE c_acctbal NOT BETWEEN -1000.0 AND 10000.0) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM customer
        |UNION ALL
        |SELECT 'lineitem_qty_positive',
        |  CAST(count(*) FILTER (WHERE l_quantity <= 0.0) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_discount_range',
        |  CAST(count(*) FILTER (WHERE l_discount NOT BETWEEN 0.0 AND 1.0) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'events_value_finite',
        |  CAST(count(*) FILTER (WHERE value IS NULL OR isnan(value)) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM events
        |UNION ALL
        |SELECT 'documents_text_nonempty',
        |  CAST(count(*) FILTER (WHERE text IS NULL OR length(text) = 0) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'orders_custkey_fk',
        |  CAST(count(*) FILTER (WHERE NOT EXISTS
        |        (SELECT 1 FROM customer WHERE c_custkey = o_custkey)) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'lineitem_orderkey_fk',
        |  CAST(count(*) FILTER (WHERE NOT EXISTS
        |        (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS BIGINT),
        |  CAST(count(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orders_orderkey_unique',
        |  CAST(coalesce(sum(k) FILTER (WHERE k > 1), 0) AS BIGINT),
        |  CAST(sum(k) AS BIGINT)
        |FROM (SELECT count(*) AS k FROM orders GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'orders_totalprice_recon',
        |  CAST(count(*) FILTER (WHERE
        |    abs(CAST(o_totalprice AS DECIMAL(30,6))
        |        - COALESCE(r.s, CAST(0 AS DECIMAL(30,6)))) > 0.01) AS BIGINT),
        |  CAST(count(*) AS BIGINT)
        |FROM orders o LEFT JOIN (
        |  SELECT l_orderkey,
        |    sum(CAST(l_extendedprice * (1-l_discount) * (1+l_tax) AS DECIMAL(30,6))) AS s
        |  FROM lineitem GROUP BY 1) r ON r.l_orderkey = o.o_orderkey""".stripMargin)
}
