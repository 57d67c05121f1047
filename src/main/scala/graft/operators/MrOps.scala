package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.mr.MapReduceJob
import graft.sources.Tables

/** The MR-parity library run as an engine query: wordcount through
  * [[MapReduceJob.run]] (every pair hash-shuffled on `xxhash64(key)`,
  * sorted on that hash and reduced run by run) with the reference's
  * exact map/reduce UDF semantics (`cpp/worker/map.cc`, `cpp/worker/
  * reduce.cc`). Same oracle as the declarative `wordcount` — the two
  * paths must agree, which is also asserted in MapReduceSpec.
  */
object MrOps {

  /** The reference's MapReduce wordcount replayed through the
    * generic [[MapReduceJob]] surface (tokenize map + sum reduce) —
    * must agree with the declarative `wordcount` (MapReduceSpec). */
  def mrWordcount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lines = Tables.documents(spark, dir).select("text").as[String]
    MapReduceJob(MapReduceJob.tokenizeMap, MapReduceJob.sumLongs)
      .run(lines)
      .toDF("word", "cnt_str")
      .select(col("word"), col("cnt_str").cast("long").as("cnt"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> mrWordcount)

  val oracles: Map[String, String] = Map(
    "mr_wordcount" -> TextOps.oracles("wordcount"))
}
