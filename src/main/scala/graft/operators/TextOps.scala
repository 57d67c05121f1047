package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Tables

/** Wordcount — the reference's one golden-verified query — plus the
  * tokenize surface it is built from.
  *
  * Tokenize rule is the reference map UDF (`cpp/worker/map.cc:12–21`):
  * lowercase, split on runs outside `[a-z0-9]`, drop empty tokens — the
  * codegen'd [[graft.functions.Tokenize]] expression, the one tokenizer
  * every Spark-side site and every DuckDB oracle ([[TextAnalysis.ToksSql]])
  * share.  Sum rule is the reference reduce UDF
  * (`cpp/worker/reduce.cc:10–23`).  Expressed declaratively the whole
  * reference dataflow (scan → flatMap → hash-shuffle → reduce,
  * SURVEY.md §3.1) collapses to
  * scan → project(tokenize) → Generate(explode) → partial HashAggregate →
  * shuffle → final HashAggregate.  Catalyst's map-side partial
  * aggregation is the combiner the reference lacks (SURVEY.md §4) —
  * at 100 TB it is the difference between shuffling every `(word, 1)`
  * pair and shuffling one partial count per word per partition.
  */
object TextOps {

  /** `text` column → one row per token, column name `word`. */
  def tokenize(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    explode(TextFunctions.tokenize(text))

  /** The reference's golden query, declarative form: tokenize +
    * groupBy(word).count() — partial+final combine does the
    * map-side work the reference's combiner did. */
  def wordcount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(tokenize(col("text")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Distinct-token and length stats per document — the tokenize
    * surface exposed as its own operator (SURVEY.md §2.1 O4). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokenize(col("text")).as("word"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_distinct"),
        sum(length(col("word"))).as("sum_len"),
        max(length(col("word"))).cast("long").as("max_len"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount"   -> wordcount,
    "token_stats" -> tokenStats)

  private val ToksSql = TextAnalysis.ToksSql

  val oracles: Map[String, String] = Map(
    "wordcount" ->
      s"""SELECT word, count(*) AS cnt
        |FROM (SELECT unnest($ToksSql) AS word FROM documents) t
        |GROUP BY word""".stripMargin,
    "token_stats" ->
      s"""SELECT doc_id, count(*) AS n_tokens, count(DISTINCT word) AS n_distinct,
        |       CAST(sum(length(word)) AS BIGINT) AS sum_len, CAST(max(length(word)) AS BIGINT) AS max_len
        |FROM (SELECT doc_id, unnest($ToksSql) AS word FROM documents) t
        |GROUP BY doc_id""".stripMargin)
}
