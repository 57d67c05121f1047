package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.StateMode

/** The [[Rounds]] loop contracts: how many rounds run, where `fixed`
  * cuts, what `untilStable` returns, and its declared error. */
class RoundsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def assumeCkpt(): Unit =
    assume(StateMode.deployment == StateMode.Ckpt,
      "StateMode override active — no localCheckpoint rounds to capture")

  private def counter: DataFrame = spark.range(1).select(lit(0L).as("x"))

  private def step(s: DataFrame, cut: Rounds.Cut): DataFrame =
    cut(s.select((col("x") + 1L).as("x")))

  test("fixed runs n rounds and cuts every round but the last") {
    assumeCkpt()
    val (out, plans) = CheckpointPlans.capture(spark)(Rounds.fixed(3, counter)(step))
    assert(out.head().getLong(0) == 3L)
    assert(plans.size == 2, s"captured ${plans.size} checkpoints")
    graft.CacheScope.release(blocking = true)
  }

  test("fixed with cutLast cuts the last round too") {
    assumeCkpt()
    val (out, plans) = CheckpointPlans.capture(spark)(
      Rounds.fixed(3, counter, cutLast = true)(step))
    assert(out.head().getLong(0) == 3L)
    assert(plans.size == 3, s"captured ${plans.size} checkpoints")
    graft.CacheScope.release(blocking = true)
  }

  test("fixed with a body that never cuts runs no checkpoint") {
    val (out, plans) = CheckpointPlans.capture(spark)(
      Rounds.fixed(4, counter)((s, _) => s.select((col("x") + 1L).as("x"))))
    assert(out.head().getLong(0) == 4L)
    assert(plans.isEmpty)
  }

  test("untilStable returns the round count on a planted chain") {
    // a 6-vertex path 0-1-…-5 labelled by id; each round every vertex
    // takes the min of its own and its predecessor's label, so label 0
    // needs 5 rounds to reach vertex 5 and the 6th changes nothing
    val n = 6L
    val init = spark.range(n).select(col("id"), col("id").as("lab"))
    val (labels, rounds) = Rounds.untilStable(32, "chain")(init) { (l, _) =>
      l.join(l.select((col("id") + 1L).as("id"), col("lab").as("prev")), Seq("id"), "left")
        .select(col("id"), col("lab"),
          least(col("lab"), coalesce(col("prev"), col("lab"))).as("new_lab"))
    } { (_, next) =>
      val changed = next.filter(col("new_lab") < col("lab")).count()
      (next.select(col("id"), col("new_lab").as("lab")), changed == 0L)
    }
    assert(rounds == n.toInt)
    assert(labels.filter(col("lab") =!= 0L).count() == 0L)
    graft.CacheScope.release(blocking = true)
  }

  test("untilStable throws the declared error when max rounds pass unstable") {
    val err = intercept[IllegalArgumentException] {
      Rounds.untilStable(3, "never")(0)((_, r) => counter.select(lit(r.toLong).as("x"))) {
        (s, next) => (s + next.count().toInt, false)
      }
    }
    assert(err.getMessage.contains("never: no fixpoint after 3 rounds"))
    graft.CacheScope.release(blocking = true)
  }

  test("cteChain joins rounds 1..n one CTE per line") {
    assert(Rounds.cteChain(3)(i => s"r$i AS (SELECT * FROM r${i - 1})") ==
      "r1 AS (SELECT * FROM r0),\nr2 AS (SELECT * FROM r1),\nr3 AS (SELECT * FROM r2)")
  }
}
