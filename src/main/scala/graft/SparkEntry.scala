package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator family lives in its own module under
  * `graft.operators`; every module contributes a `queries` map
  * (name → builder) and an `oracles` map (name → DuckDB SQL over the
  * same fixture tables, referenced by bare table name). This object
  * only concatenates them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Wordcount is the reference's single golden-verified query
    * (SURVEY.md §5) and exercises its entire dataflow shape. */
  def entry(spark: SparkSession): DataFrame =
    TextOps.wordcount(spark, "/root/testdata/sf0.001")

  private type Builder = (SparkSession, String) => DataFrame

  /** Every registry module once: (name, queries, oracles). The
    * name selects it in Bench's per-module subset path
    * (SPARK_GRAFT_MODULE / -DbenchModule — VERDICT r13 item 4). */
  private val registry: Seq[(String, Map[String, Builder], Map[String, String])] = Seq(
    ("textops", TextOps.queries, TextOps.oracles),
    ("mrops", MrOps.queries, MrOps.oracles),
    ("relational", Relational.queries, Relational.oracles),
    ("asofjoin", AsOfJoin.queries, AsOfJoin.oracles),
    ("reshape", Reshape.queries, Reshape.oracles),
    ("dedup", Dedup.queries, Dedup.oracles),
    ("similarity", Similarity.queries, Similarity.oracles),
    ("textanalysis", TextAnalysis.queries, TextAnalysis.oracles),
    ("multimodal", Multimodal.queries, Multimodal.oracles),
    ("streamops", StreamOps.queries, StreamOps.oracles),
    ("corpus", Corpus.queries, Corpus.oracles),
    ("graph", Graph.queries, Graph.oracles),
    ("dataquality", DataQuality.queries, DataQuality.oracles))

  /** Module name → its registry slice. */
  private[graft] val namedModules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    registry.map { case (name, qs, _) => name -> qs }

  private[graft] val modules: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    namedModules.map(_._2)

  private[graft] val oracleModules: Seq[Map[String, String]] =
    registry.map(_._3)

  /** Operator names registered by MORE than one module — the names
    * `modules.reduce(_ ++ _)` would silently shadow (last module
    * wins). Must be empty; CatalogSpec asserts it on the live
    * registry AND that the detection fires on a planted duplicate
    * (VERDICT r14 item 3). */
  private[graft] def registryCollisions(mods: Seq[(String, Map[String, _])]): Seq[String] =
    mods.flatMap { case (mod, qs) => qs.keys.map(_ -> mod) }
      .groupBy(_._1).filter(_._2.size > 1).toSeq.sortBy(_._1)
      .map { case (op, ms) => s"$op in ${ms.map(_._2).mkString("+")}" }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    oracleModules.reduce(_ ++ _)
}
