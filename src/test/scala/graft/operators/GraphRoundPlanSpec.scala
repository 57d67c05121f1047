package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.StateMode
import graft.sources.Tables

/** Round-BODY plan pins for the checkpointed iterative graph ops.
  *
  * Every round but the last executes eagerly as a
  * [[graft.StateMode.cut]], so `PlanAuditSpec`'s post-hoc explain only
  * sees the final round over LogicalRDD leaves. This spec pins the
  * per-round construction — map-side combine, reuse of the
  * materialized edge relations — on the rounds' own executed plans,
  * captured by [[CheckpointPlans]].
  */
class GraphRoundPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // the rounds only checkpoint under the default deployment; a
  // persist/reliable override is a supported configuration whose
  // rounds this spec cannot observe
  private def assumeCkpt(): Unit =
    assume(StateMode.deployment == StateMode.Ckpt,
      "StateMode override active — no localCheckpoint rounds to capture")

  test("kcore rounds: each reads the last checkpoint; degrees combine") {
    assumeCkpt()
    val (_, plans) = CheckpointPlans.capture(spark)(
      Graph.kcoreOn(Graph.purchaseEdges(spark, dir)))
    // the input edges, then every round but the last
    assert(plans.size == Graph.KcoreRounds, s"captured ${plans.size} checkpoints")
    assert(plans.head.toString.contains("FileScan"),
      "the input cut must be the one place the purchase join runs")
    plans.tail.map(_.toString).foreach { p =>
      assert(p.contains("Scan ExistingRDD"),
        "a round must read the previous round's checkpointed edges")
      assert(!p.contains("FileScan"),
        "per-round edges must be materialized, not re-derive the purchase join")
      assert(p.contains("partial_count"), "degree aggregates must map-side combine")
    }
    graft.CacheScope.release(blocking = true)
  }

  test("hits half-rounds: edge copies reused; sums partial-combine") {
    assumeCkpt()
    import org.apache.spark.sql.functions.col
    val edges = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"),
        (col("l_suppkey") + Graph.SuppOffset).as("s"))
      .distinct()
    val (_, plans) = CheckpointPlans.capture(spark)(Graph.hitsOn(edges))
    // one cut per half-round: the raw score sums before each rescale
    assert(plans.size == 2 * Graph.HitsRounds, s"captured ${plans.size} checkpoints")
    plans.foreach(p => assert(p.toString.contains("partial_sum"),
      "score sums must map-side combine"))
    // which cached edge copy each half-round reads
    val copies = plans.map(p =>
      collect(p) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }.distinct)
    assert(copies.forall(_.size == 1),
      "each half-round must read exactly one pre-partitioned edge copy")
    assert(copies.flatten.distinct.size == 2,
      "all rounds must share the two edge copies, not re-derive edges")
    assert(copies.sliding(2).forall { case Seq(a, b) => a != b },
      "alternating-key half-rounds must alternate between the two copies")
    graft.CacheScope.release(blocking = true)
  }

  test("eager cut counts of the round loops are pinned") {
    assumeCkpt()
    // counts taken from a run before the loops moved onto Rounds: a
    // loop that gains or loses a cut changes its row
    val table: Seq[(String, () => Any, Int)] = Seq(
      ("bfsDistances", () => Graph.graphBfs(spark, dir), 4),
      ("ssspOn", () => Graph.ssspWeighted(spark, dir), 3),
      ("kcoreOn", () => Graph.kcore(spark, dir), 4),
      ("ktrussOn", () => Graph.ktruss(spark, dir), 3),
      ("hitsOn", () => Graph.hitsScores(spark, dir), 4),
      ("neighborGraph", () => Similarity.neighborGraph(spark, dir), 2),
      ("annGraph", () => Similarity.annGraph(spark, dir), 6))
    val seen = table.map { case (name, body, _) =>
      val (_, plans) = CheckpointPlans.capture(spark)(body())
      graft.CacheScope.release(blocking = true)
      name -> plans.size
    }
    assert(seen == table.map { case (name, _, n) => name -> n })
  }
}
