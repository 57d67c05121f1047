package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The r8-verdict cache-hygiene item, as an executed property: every
  * operator that persists or localCheckpoints internally must leave
  * ZERO orphaned cached blocks once the caller consumes its result
  * and calls `CacheScope.release()` — standalone, not relying on
  * Bench's inter-query sweep. The queries below are exactly the ones
  * whose call graphs reach a `persistScoped`/`localCheckpointScoped`
  * site (grep-audited; the spec would catch a new unscoped persist
  * in any of them too).
  */
class CacheScopeSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // every registered query whose plan persists or checkpoints:
  // Dedup (shingle + sketch caches, CC label checkpoints), Graph
  // (edge relation, triangle pairs), Similarity (verified positives),
  // TextAnalysis (MG sketch frame)
  private val persistingQueries = Seq(
    "dedup_ngram", "dedup_minhash", "dedup_cluster", "dedup_keep",
    "dedup_substring", "cc_star", "pagerank", "graph_bfs", "triangles",
    "contrastive_pairs", "freq_topk", "ann_graph",
    // r11 re-audit: the ops below also reach persistScoped sites
    // (trainRun vocabularies, grouped token relations, per-round
    // graph state) — the list had drifted behind the grep
    "trigram_lm", "sample_balanced", "dedup_semantic", "dedup_incr",
    "bpe_train", "bpe_encode", "bpe_fertility",
    "inverted_index", "bigram_pmi", "oov_rate",
    "label_prop", "kcore", "phash_dedup", "cms_counts",
    "sssp_weighted", "rfm_segment", "hits_scores", "winsorized_mean",
    "assoc_rules", "decile_lift", "pareto_share", "ship_latency",
    "benford_first_digit", "shingle_novelty", "vocab_growth",
    "quantile_table", "category_drift", "churn_label",
    "dedup_by_source", "type_jaccard", "pagerank_weighted",
    "lorenz_curve", "priority_latency", "label_noise", "kendall_tau",
    "t_closeness", "graph_diameter")

  test("persisting operators leave zero orphaned blocks after release()") {
    // start from a clean slate (earlier suites share this JVM/session)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    CacheScope.release(blocking = true)

    persistingQueries.foreach { name =>
      val n = SparkEntry.queries(name)(spark, dir).count()
      assert(n > 0, s"$name returned no rows")
      assert(CacheScope.trackedCount > 0,
        s"$name registered no scoped cache — site list stale, update this spec")
      CacheScope.release(blocking = true)
      assert(CacheScope.trackedCount === 0)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name left orphaned RDD blocks after release()")
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left SQL-cache entries after release()")
    }
  }

  test("release() only drops library caches, never the user's") {
    import spark.implicits._
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    CacheScope.release(blocking = true)
    val mine = Seq((1L, "keep me")).toDF("id", "note").persist()
    assert(mine.count() === 1)
    SparkEntry.queries("contrastive_pairs")(spark, dir).count()
    CacheScope.release(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "release() must not unpersist user-owned caches")
    mine.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("per-invocation scopes isolate composed operators (ADVICE r9)") {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    CacheScope.release(blocking = true)

    // two operators with localCheckpoint ancestry, each in its own
    // scope: releasing the FIRST must not break the SECOND's
    // still-unconsumed result (the exact failure mode the global
    // scope documents as unsafe)
    val s1 = CacheScope.open()
    val s2 = CacheScope.open()
    val a = CacheScope.in(s1)(SparkEntry.queries("dedup_cluster")(spark, dir))
    val b = CacheScope.in(s2)(SparkEntry.queries("cc_star")(spark, dir))
    assert(s1.trackedCount > 0 && s2.trackedCount > 0)
    assert(CacheScope.trackedCount === 0,
      "scoped construction must not leak registrations into the global scope")
    s1.release(blocking = true)
    assert(s1.trackedCount === 0 && s2.trackedCount > 0)
    // b's checkpoint blocks survived s1's release — consuming works
    assert(b.count() > 0)
    s2.release(blocking = true)
    assert(s2.trackedCount === 0)
    assert(a.schema.nonEmpty) // a itself was consumed during build (eager checkpoint)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "scoped releases left orphaned RDD blocks")
  }

  test("StateMode: default deployment is ckpt and cut() truncates lineage") {
    import spark.implicits._
    // the resolved value must always be one of the legal three —
    // this holds under any supported override
    assert(Set(StateMode.Ckpt, StateMode.Persist,
      StateMode.Reliable)(StateMode.deployment))
    // the ckpt-specific assertions pin the DEFAULT deployment; a run
    // under a legitimate GRAFT_STATE_MODE=persist/reliable override
    // is a supported configuration, not a failure (ADVICE r16) —
    // skip them rather than fail the suite
    assume(sys.env.get("GRAFT_STATE_MODE").forall(_.trim.isEmpty) &&
      sys.props.get("graft.state.mode").isEmpty,
      "StateMode override active — ckpt-default assertions skipped")
    assert(StateMode.deployment == StateMode.Ckpt)
    val cut = StateMode.cut(Seq(1L, 2L, 3L).toDF("x"))
    assert(cut.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "ckpt-mode cut must leave a LogicalRDD leaf (lineage truncated)")
    assert(cut.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    CacheScope.release(blocking = true)
  }
}
