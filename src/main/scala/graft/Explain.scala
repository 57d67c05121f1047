package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of registered queries
  * (the source of PLANS.md). Usage:
  *   sbt "runMain graft.Explain sessionize dedup_embedding"
  * No args → every registered query. The fixture directory comes from
  * `SPARK_GRAFT_SF_DIR` (default sf0.01); point it at sf0.001 to
  * iterate on an operator's physical shape quickly. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
