package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.cosine_sim

/** CI license for the r18 neighbor-graph DESCENT rework: the old
  * construction (descent union → global (src, dst) distinct → top-M
  * window) reconstructed inline, compared multiset-exactly against
  * the shipped construction (raw union → in-window lag-dedup →
  * top-M, one pair-mass exchange instead of two).
  *
  * The equivalence argument the test executes: duplicate (src, dst)
  * candidate pairs carry identical (cos, dst) — cosine_sim is a pure
  * function of the attached embeddings — so they sort adjacent under
  * the top-M window's (cos desc, dst asc) order; dropping every copy
  * after the first leaves row_number ranking exactly the distinct
  * row sequence the old plan ranked. The same comparison held on the
  * staged x10 corpus (OPTIMIZATION_r18.md); the sf0.01 oracle replay
  * (distinct-based construction CTEs) gates the full ann_graph
  * pipeline independently. */
class GraphDescentParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** The OLD full construction, reconstructed inline (ring init —
    * identical in both shapes; only the descent's dedup placement
    * differs). */
  private def oldNeighborGraph(dir: String): DataFrame = {
    val e = graft.sources.Tables.embeddings(spark, dir)
    val eH = Similarity.vecHinted(e)
    val tagged = Similarity.embeddingTaggedOf(e, Similarity.NTables, Similarity.BitsPerTable)
    val cap = Similarity.GraphInitPairCap
    val deg = Similarity.GraphDeg
    def topMOld(cand: DataFrame): DataFrame = {
      val scored = cand
        .join(eH.select(col("vec_id").as("src"), col("embedding").as("se")), "src")
        .join(eH.select(col("vec_id").as("dst"), col("embedding").as("de")), "dst")
        .withColumn("cos", cosine_sim(col("se"), col("de")))
      val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= deg)
        .select("src", "dst")
    }
    val wB = Window.partitionBy(col("table_idx"), col("table_key"))
      .orderBy(col("vec_id"))
    val ranked = tagged.withColumn("rn", row_number().over(wB))
    val fwdp = ranked.as("a").join(ranked.as("b"),
        col("a.table_idx") === col("b.table_idx") &&
          col("a.table_key") === col("b.table_key") &&
          col("b.rn") > col("a.rn") &&
          col("b.rn") <= col("a.rn") + cap)
      .select(col("a.table_idx").as("table_idx"),
        col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    val dirPairs = fwdp.union(
      fwdp.select(col("table_idx"), col("dst").as("src"), col("src").as("dst")))
    val scoredT = dirPairs
      .join(eH.select(col("vec_id").as("src"), col("embedding").as("se")), "src")
      .join(eH.select(col("vec_id").as("dst"), col("embedding").as("de")), "dst")
      .withColumn("cos", cosine_sim(col("se"), col("de")))
    val wT = Window.partitionBy(col("table_idx"), col("src"))
      .orderBy(col("cos").desc, col("dst").asc)
    val cand0 = scoredT.withColumn("rt", row_number().over(wT))
      .filter(col("rt") <= deg).select(col("src"), col("dst")).distinct()
    var g = topMOld(cand0)
    for (_ <- 1 to Similarity.DescentRounds) {
      val fwd = g.as("a").join(g.as("b"),
          col("a.dst") === col("b.src") && col("a.src") =!= col("b.dst"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      val rev = g.select(col("dst").as("src"), col("src").as("dst"))
      val co = g.as("a").join(g.as("b"),
          col("a.src") === col("b.src") && col("a.dst") =!= col("b.dst"))
        .select(col("a.dst").as("src"), col("b.dst").as("dst"))
      g = topMOld(g.union(fwd).union(rev).union(co).distinct())
    }
    g
  }

  test("neighborGraph: in-window descent dedup ≡ global-distinct construction") {
    val dir = "/root/testdata/sf0.01"
    val old = oldNeighborGraph(dir)
    val neu = Similarity.neighborGraph(spark, dir)
    val d1 = old.exceptAll(neu).count()
    val d2 = neu.exceptAll(old).count()
    assert(d1 == 0 && d2 == 0,
      s"descent rework diverges from the distinct-based construction " +
        s"(old-minus-new=$d1, new-minus-old=$d2)")
    // non-vacuity: the graph is a real top-M relation, not empty
    assert(neu.count() > 0, "fixture neighbor graph is empty")
    spark.catalog.clearCache()
    graft.CacheScope.release(blocking = true)
  }

  test("descent dedup shape follows the broadcast gate and both shapes agree (r19, VERDICT r18 item 3)") {
    val dir = "/root/testdata/sf0.01"
    // bcBytes = 0 forces the PAST-GATE regime on fixture data: the
    // vector table must not broadcast and the dedup shape must flip to
    // distinct-first (dedup the pair mass BEFORE the now-shuffling
    // attach joins). The default bcBytes keeps the r18 lag-dedup
    // shape. Every topM round is an eager checkpoint, so the shape is
    // read from the captured checkpoint plans; auto-broadcast is off
    // so "no broadcast" is observable on the tiny fixture relation.
    assume(graft.StateMode.deployment == graft.StateMode.Ckpt,
      "StateMode override active — no localCheckpoint rounds to capture")
    def build(bcBytes: Long): (DataFrame, Seq[String]) = {
      val (g, plans) = CheckpointPlans.capture(spark)(
        Similarity.neighborGraph(spark, dir, bcBytes = bcBytes))
      assert(plans.size == 1 + Similarity.DescentRounds,
        s"expected one checkpoint per topM round, captured ${plans.size}")
      (g, plans.map(_.toString))
    }
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (below, belowPlans) = build(Similarity.GraphBroadcastVecBytes)
      val (past, pastPlans) = build(0L)
      belowPlans.foreach { p =>
        assert(p.contains("lag(dst"),
          "below the gate the r18 in-window lag-dedup must be the shape")
        assert(p.contains("BroadcastHashJoin"),
          "below the gate the attach joins ride the broadcast hint")
      }
      pastPlans.foreach { p =>
        assert(!p.contains("lag(dst"),
          "past the gate the lag-dedup must yield to distinct-first")
        assert(!p.contains("BroadcastHashJoin"),
          "past the gate the embedding attach joins must not broadcast")
      }
      // output parity across regimes: the two shapes compute the
      // identical graph
      val d1 = below.exceptAll(past).count()
      val d2 = past.exceptAll(below).count()
      assert(d1 == 0 && d2 == 0,
        s"shapes diverge across the gate (below-minus-past=$d1, " +
          s"past-minus-below=$d2)")
      assert(below.count() > 0, "fixture neighbor graph is empty")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.catalog.clearCache()
      graft.CacheScope.release(blocking = true)
    }
  }
}
