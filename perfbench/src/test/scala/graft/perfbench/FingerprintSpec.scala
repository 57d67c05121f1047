package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def base = spark.range(0, 2000, 1, 2)
    .select(col("id"), (col("id") % 17).cast("string").as("k"),
      array(col("id").cast("float"), lit(0.5f)).as("v"),
      map(lit("a"), col("id")).as("m"))

  test("ignores row order and partitioning") {
    val fp = Fingerprint.of(base)
    assert(fp == Fingerprint.of(base.repartition(7)))
    assert(fp == Fingerprint.of(base.orderBy(col("id").desc)))
    assert(fp == Fingerprint.of(base.coalesce(1)))
  }

  test("changes with the content: a changed, missing or duplicated row") {
    val fp = Fingerprint.of(base)
    assert(fp != Fingerprint.of(base.withColumn("k", when(col("id") === 5, lit("x")).otherwise(col("k")))))
    assert(fp != Fingerprint.of(base.filter(col("id") =!= 5)))
    assert(fp != Fingerprint.of(base.union(base.filter(col("id") === 5))))
  }

  test("observed during the op's own action equals the separate job") {
    val (df, obs) = Fingerprint.observed(base.repartition(5))
    Op.noop(df)
    assert(Fingerprint.read(obs) == Fingerprint.of(base))
  }

  test("an empty result reads 0") {
    assert(Fingerprint.of(base.filter(lit(false))) == "0")
  }
}
