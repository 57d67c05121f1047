package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Enforces PLANS.md's physical-plan claims as assertions, so a
  * regression that silently degrades a plan (a lost pushdown, a new
  * cartesian) fails CI instead of surviving until someone re-reads an
  * explain dump.
  *
  * Checks run on the ANALYZED+PLANNED form (`executedPlan` before
  * execution), which is what AQE starts from; tiny-SF broadcast
  * flips are expected and allowed for — assertions target properties
  * that hold at every scale (no cartesian, pushdown present, partial
  * aggregation planned, rank-limit pushdown planned).
  */
class PlanAuditSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def plan(name: String): String = {
    // ADVICE r15: with eager ckpt the shipped default for the
    // iterative families, CONSTRUCTING these DataFrames executes the
    // full operator and parks checkpoint RDD blocks in the global
    // CacheScope — capture the plan text, then drop this query's
    // blocks so audits don't accumulate cached RDDs across ~50 tests
    // (same per-query hygiene as graft.Verify, which proves the
    // release-between-queries pattern safe for every registered op).
    val s = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
    graft.CacheScope.release(blocking = true)
    s
  }

  test("no registered query plans a CartesianProduct; BNLJ only where broadcast is by-construction tiny") {
    // ann_topk broadcasts its 10-row query set against the scan — the
    // one legitimate nested-loop (PLANS.md). Everything else must be
    // hash/sort-merge joinable.
    // mips_topk shares the exact shape (lattice dot vs cosine);
    // rank_fusion composes both rankings so it inherits their BNLJs
    // knn_margin broadcasts the same 10-row probe set (lattice-L2
    // rank-2 variant of the ann_topk shape); vocab_overlap's BNLJ is
    // the |sources|² pair grid built from the ~20-row size table
    // hard_negatives: label INEQUALITY leaves no equi-key — same
    // 10-row broadcast probe class as ann_topk; theilsen_trend: the
    // pair grid is a non-equi join of a ≤365-row folded relation
    // kendall_tau: |nations|² pair grid from the ≤25-row folded
    // relation, y side broadcast; conformal_knn / t_closeness: a
    // |labels|- / |buckets|-row relation broadcast on a constant key
    // (folded to TRUE) — all by-construction tiny build sides
    // mrr_eval: the ann_topk 10-row broadcast probe with a qid<>nid
    // non-equi condition; chi2_independence: the t_closeness
    // constant-key dense grid (|segments| x |priorities| — both
    // margins are by-construction tiny folded relations)
    // ivf_probe_curve composes the brute ranking (ann_recall's
    // pattern), so it inherits the same 10-row broadcast probe BNLJ
    // cramers_v projects the same chi2Full core as chi2_independence,
    // so it inherits the identical constant-key dense-grid BNLJ
    // mmr_select's pool cut is the ann_topk 10-row broadcast probe;
    // lm_surprisal's non-equi pow2 join broadcasts a 63-row constant
    // relation against the BOUNDED trigram universe
    val allowedBnlj = Set("ann_topk", "mips_topk", "rank_fusion", "ann_recall",
      "knn_margin", "vocab_overlap", "hard_negatives", "theilsen_trend",
      "kendall_tau", "conformal_knn", "t_closeness", "mrr_eval",
      "chi2_independence", "cramers_v", "ivf_probe_curve", "mmr_select",
      "lm_surprisal", "surprisal_buckets", "mrl_truncate")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
      if (!allowedBnlj(name))
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans a BNLJ")
    }
  }

  test("q1_pricing: filter is pushed to the parquet scan and the schema is pruned") {
    val p = plan("q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.linesIterator.take(30).mkString("\n"))
    // 7 needed columns out of 11 — pruning must reach ReadSchema
    assert(!p.contains("l_orderkey"), "q1 must not read the order key")
  }

  test("aggregations plan partial+final (map-side combine everywhere)") {
    Seq("q1", "events_hourly", "text_stats", "wordcount").foreach { name =>
      val p = plan(name)
      assert(p.contains("partial_"), s"$name lacks a partial aggregation phase")
    }
  }

  test("top-k queries plan rank-limit pushdown before the exchange") {
    assert(plan("ann_topk").contains("WindowGroupLimit"))
    assert(plan("compact_latest").contains("WindowGroupLimit"))
    // sort+limit form: Spark plans TakeOrderedAndProject — no global sort
    assert(plan("topk_orders").contains("TakeOrderedAndProject"))
    assert(plan("q3").contains("TakeOrderedAndProject"))
    assert(plan("q10").contains("TakeOrderedAndProject"))
    assert(plan("q18").contains("TakeOrderedAndProject"))
    assert(plan("copurchase_topk").contains("TakeOrderedAndProject"),
      "copurchase top-k must never plan a global sort")
  }

  test("r13 batches keep their PLANS.md plan-shape claims") {
    // mrr_eval: the depth-50 rank filter must push as WindowGroupLimit
    // even conjoined with the label predicate (shuffle stays
    // O(queries x depth x tasks))
    assert(plan("mrr_eval").contains("WindowGroupLimit"))
    // rolling_mode: the trailing window is exploded FORWARD into an
    // equi join — generate + partial agg, never a range BNLJ — and
    // the rank-1 mode pick pushes its limit
    val rm = plan("rolling_mode")
    assert(rm.contains("Generate explode"), "forward explode must survive planning")
    assert(rm.contains("WindowGroupLimit"))
    // brand_loyalty: rank/total/count windows + fold all ride ONE
    // (cust) exchange — a second would mean the windows split
    assert("hashpartitioning\\(cust".r.findAllIn(plan("brand_loyalty")).length === 1,
      "brand_loyalty must plan exactly one cust exchange")
    // keyword_rake: corpus top-20 is TakeOrdered, never a global sort
    assert(plan("keyword_rake").contains("TakeOrderedAndProject"))
    // the stat folds all combine map-side
    Seq("auc_rank", "ledger_recon", "price_index", "histogram2d",
      "decay_score", "revenue_bridge").foreach { name =>
      assert(plan(name).contains("partial_"), s"$name lacks partial aggregation")
    }
  }

  test("q6_forecast: every predicate reaches the scan, two-column read schema") {
    // default maxMetadataStringLength truncates PushedFilters at 100
    // chars — raise it so the assertion sees the full pushdown list
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try {
      val p = plan("q6")
      assert(p.contains("PushedFilters: ["), p.linesIterator.take(30).mkString("\n"))
      Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
          "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
          "LessThan(l_quantity").foreach(f =>
        assert(p.contains(f), s"q6 missing pushed filter $f"))
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("dimension joins broadcast in the TPC-H shapes") {
    Seq("q5", "q7", "q10").foreach { name =>
      assert(plan(name).contains("BroadcastHashJoin"), s"$name has no broadcast join")
    }
  }

  test("sessionize plans exactly one exchange (windows reuse the sort)") {
    val p = plan("sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("sample_per_key plans rank-limit pushdown (WindowGroupLimit)") {
    // k rows per key survive BEFORE the exchange — the property that
    // keeps the shuffle at k·keys rows at any corpus size
    assert(plan("sample_per_key").contains("WindowGroupLimit"))
  }

  test("corpus layout ops plan exactly one shard-partitioned exchange") {
    Seq("pack_sequences", "shuffle_export").foreach { name =>
      val p = plan(name)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"$name: expected 1 exchange, got $exchanges:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"$name must never plan a global single-partition sort")
    }
  }

  /** Text must be consumed below every hash/range exchange: the
    * Exchange line holds the partitioning keys, and its immediate
    * child line (tree-printing puts the direct child next) holds the
    * operator whose output IS the shuffle payload — neither may
    * reference a text attribute. RoundRobin exchanges are exempt:
    * that's Tables' fixture-only scan fan-out (single-row-group
    * parquet can't split), which disappears at real file sizes. */
  private def assertNoTextInWideExchanges(name: String): Unit = {
    val p = plan(name)
    val lines = p.linesIterator.toArray
    val wideIdxs = lines.indices.filter(i =>
      lines(i).contains("Exchange hashpartitioning") ||
        lines(i).contains("Exchange rangepartitioning"))
    assert(wideIdxs.nonEmpty, s"$name must plan at least one wide exchange")
    wideIdxs.foreach { i =>
      assert(!lines(i).contains("text#"),
        s"$name: exchange partitions on text:\n${lines(i)}")
      lines.drop(i + 1).find(_.trim.nonEmpty).foreach { child =>
        assert(!child.contains("text#"),
          s"$name: shuffle payload carries text:\n$child")
      }
    }
  }

  test("contamination aggregates with map-side combine and never shuffles text") {
    assert(plan("contamination").contains("partial_"),
      "contamination lacks partial aggregation")
    assertNoTextInWideExchanges("contamination")
    // incremental dedup: the two-sided band join and verification
    // shuffles carry band keys / shingle hashes (longs), never text
    assertNoTextInWideExchanges("dedup_incr")
  }

  test("dedup_substring shuffles only (id, hash) longs — never spans or text") {
    val p = plan("dedup_substring")
    assert(p.contains("partial_"), "dedup_substring lacks partial aggregation")
    assertNoTextInWideExchanges("dedup_substring")
    // the span string itself must also die before any exchange — only
    // its 8-byte hash rides the shuffles
    val lines = p.linesIterator.toArray
    lines.indices
      .filter(i => lines(i).contains("Exchange hashpartitioning"))
      .foreach { i =>
        lines.drop(i + 1).find(_.trim.nonEmpty).foreach { child =>
          assert(!child.contains("shingle#"),
            s"span string rides a shuffle:\n$child")
        }
      }
  }

  test("dedup_fuzzy: verify runs on the segment join output — no pair-mass exchange") {
    // the r18 rework: witness rows out of the segment equi-join carry
    // both fixed-width keys, the thresholded levenshtein filters them
    // pipelined IN the join stage, and only true pairs reach the
    // closing distinct. The failure mode this pins against is the old
    // shape returning: candidate-mass distinct + two key re-attach
    // joins keyed on doc_a/doc_b (314M-row shuffles at ScaleLab 100×,
    // 618 → 102 s removed).
    val p = plan("dedup_fuzzy")
    val lines = p.linesIterator.toArray
    assert(p.contains("levenshtein"), "verify expression missing from the plan")
    // the distinct aggregates (doc_a, doc_b, dist) — dist present ⇒
    // the verify sits BELOW it, so only survivors shuffle
    assert(lines.exists(l => l.contains("HashAggregate") &&
        l.contains("doc_a#") && l.contains("dist#")),
      "closing distinct must group the VERIFIED (doc_a, doc_b, dist) rows")
    // no join keyed on pair ids — the re-attach joins must stay gone
    lines.filter(_.contains("Join")).foreach { l =>
      assert(!l.contains("doc_a#") && !l.contains("doc_b#"),
        s"pair-mass attach join is back:\n$l")
    }
    assertNoTextInWideExchanges("dedup_fuzzy")
  }

  test("simjoin_prefix: verify is an array intersect over candidate pairs, not a shingle fan-out") {
    // the r18 rework: per-doc shingle sets fold to one array row and
    // each candidate pair verifies with array_intersect — the failure
    // mode pinned against is the old verify returning: candidates
    // re-joined against the (doc_id, sh) universe with a (doc_a,
    // doc_b)-keyed count, which shuffled the per-pair shingle fan
    // (430M rows at the 100× lab corpus for 4.35M pairs).
    val p = plan("simjoin_prefix")
    assert(p.contains("array_intersect"),
      "simjoin_prefix verify must intersect per-doc shingle arrays")
    // the candidate distinct (keys only, no functions) is the wanted
    // 4.35M-scale dedup; the banned shape is the pair-keyed COUNT of
    // the shingle fan
    p.linesIterator.filter(l => l.contains("HashAggregate") &&
        l.contains("count")).foreach { l =>
      assert(!(l.contains("doc_a#") && l.contains("doc_b#")),
        s"pair-keyed fan-out count is back:\n$l")
    }
  }

  test("q19: the OR-of-ANDs predicate pushes its per-side projections to BOTH scans") {
    // Catalyst must derive from the cross-side disjunction that
    // lineitem only needs the union of the quantity ranges and part
    // only the union of the brand/size conjuncts — at 100 TB this is
    // the difference between scanning slices of both tables and
    // filtering after the join
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try {
      val p = plan("q19")
      assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"),
        "lineitem scan lost the derived quantity disjunction")
      assert(p.contains("EqualTo(p_brand,Brand#12)"),
        "part scan lost the derived brand/size disjunction")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
  }

  test("correlated-subquery TPC-H shapes decorrelate into aggregate joins") {
    // q2/q17's per-row scalar subqueries must plan as ONE aggregate
    // joined back (decorrelation), never a re-executed subquery — the
    // global sweep already bans BNLJ/cartesian forms; here we pin the
    // aggregate+join shape itself
    Seq("q2", "q17").foreach { name =>
      val p = plan(name)
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$name lost its decorrelated aggregate")
      assert(p.contains("Join") || p.contains("BroadcastHashJoin"),
        s"$name lost its decorrelated join-back")
    }
    // q21's EXISTS / NOT EXISTS must plan as semi + anti joins
    val p21 = plan("q21")
    assert(p21.contains("LeftSemi"), "q21 EXISTS did not plan a semi join")
    assert(p21.contains("LeftAnti"), "q21 NOT EXISTS did not plan an anti join")
  }

  test("q15: the revenue-max arrives as a broadcast, not a second shuffle") {
    assert(plan("q15").contains("BroadcastHashJoin"),
      "q15's scalar-max join-back is not broadcast")
  }

  test("dedup keep/clean join the tiny cluster labels as a broadcast") {
    // the label side comes out of localCheckpoint (no stats): without
    // the explicit hint Catalyst planned corpus-wide sort-merge joins
    // (only the label join is pinned: the shingle self-join upstream
    // legitimately shuffles, and SHOULD at real scale)
    Seq("dedup_keep", "corpus_clean").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name label join is not broadcast")
    }
  }

  test("dedup_embedding_tight: vectors attach by broadcast; embeddings never key-shuffle") {
    // the r18 registered τ≥0.8 gate: candidate generation shuffles
    // (table, key, id, key-array) rows only; the confirm side attaches the
    // planted corpus's vectors through the vecHinted size gate — a
    // sort-merge here would drag embeddings per candidate pair
    val p = plan("dedup_embedding_tight")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both vector-attach joins must broadcast under the size gate")
    assert(!p.linesIterator.exists(l => l.contains("Exchange hashpartitioning")
        && l.contains("embedding")),
      "embeddings must never key-shuffle — only (table, key, id, key-array) rows do")
  }

  /** The inputs of a physical-plan node, looking through AQE wrappers
    * and into the plans of cached relations. */
  private def inputs(p: org.apache.spark.sql.execution.SparkPlan) = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
  }

  /** Root-first path from `p` to each node `pick` selects. */
  private def pathsTo(p: org.apache.spark.sql.execution.SparkPlan)(
      pick: org.apache.spark.sql.execution.SparkPlan => Boolean)
      : Seq[List[org.apache.spark.sql.execution.SparkPlan]] =
    (if (pick(p)) Seq(List(p)) else Nil) ++ inputs(p).flatMap(pathsTo(_)(pick)).map(p :: _)

  /** Root-first paths to the op's bucket joins: the joins keyed on a
    * bucket index column of `Refine.bucketPairs`' callers. */
  private def bucketJoinPaths(name: String) = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val idx = Set("band_idx", "table_idx", "chunk_idx")
    val p = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
    graft.CacheScope.release(blocking = true)
    val paths = pathsTo(p) {
      case j: BaseJoinExec => j.leftKeys.exists { case a: Attribute => idx(a.name); case _ => false }
      case _ => false
    }
    assert(paths.nonEmpty, s"$name plans no bucket join")
    paths
  }

  test("bucket joins emit each pair once: no pair aggregate above dedup_embedding/minhash/simhash's bucket join") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // Refine.bucketPairs keeps a pair only from the first bucket it
    // shares, so nothing regroups the join's output by pair before
    // the next join (or the op's end)
    val regrouped = for {
      name <- Seq("dedup_embedding", "dedup_minhash", "dedup_simhash")
      path <- bucketJoinPaths(name)
      agg <- path.reverse.tail.takeWhile(inputs(_).size == 1)
        .collectFirst { case a: BaseAggregateExec => a }
    } yield s"$name: ${agg.simpleString(200)}"
    assert(regrouped.isEmpty, s"aggregates above a bucket join:\n${regrouped.mkString("\n")}")
  }

  test("dedup_simhash plans no Exchange below its chunk join: the fingerprint is a projection of the scan") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
    // below the join's own input exchanges, only the scan's fan-out
    // repartition (Tables.documents on few files) may shuffle
    def ownInputs(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: SortExec | _: Exchange => inputs(p).flatMap(ownInputs)
      case _ => Seq(p)
    }
    def below(p: SparkPlan): Seq[SparkPlan] = p +: inputs(p).flatMap(below)
    bucketJoinPaths("dedup_simhash").foreach { path =>
      val stray = inputs(path.last).flatMap(ownInputs).flatMap(below).filter {
        case e: ShuffleExchangeExec => e.shuffleOrigin != REPARTITION_BY_NUM
        case _: Exchange => true
        case _ => false
      }
      assert(stray.isEmpty, s"dedup_simhash shuffles below its chunk join:\n${stray.mkString("\n")}")
    }
  }

  test("mr_wordcount groups off one hash exchange and a LongType sort: no typed grouping, no string sort") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.{Exchange, REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.types.LongType
    // MapReduceJob.run: flatMap → (xxhash64(k), k, v) → repartition on
    // the hash → sort on the hash alone (radix-sortable) → mapPartitions
    val p = SparkEntry.queries("mr_wordcount")(spark, dir).queryExecution.executedPlan
    graft.CacheScope.release(blocking = true)
    def below(p: SparkPlan): Seq[SparkPlan] = p +: inputs(p).flatMap(below)
    val nodes = below(p)
    val grouping = nodes.filter(n => n.nodeName.startsWith("AppendColumns") || n.nodeName == "MapGroups")
    assert(grouping.isEmpty, s"mr_wordcount plans typed grouping:\n${grouping.mkString("\n")}")
    // the scan's fan-out repartition (Tables.documents on few files) aside
    val shuffles = nodes.filter {
      case e: ShuffleExchangeExec => e.shuffleOrigin != REPARTITION_BY_NUM
      case _: Exchange => true
      case _ => false
    }
    assert(shuffles.size === 1, s"mr_wordcount must shuffle once:\n${shuffles.mkString("\n")}")
    val sorts = nodes.collect { case s: SortExec => s }
    assert(sorts.nonEmpty, "mr_wordcount plans no sort")
    sorts.foreach { s =>
      assert(s.sortOrder.map(_.dataType) === Seq(LongType), s"not a sort on one LongType column: ${s.simpleString(200)}")
    }
  }

  test("knn_join plans rank-limit pushdown; embed_q8 plans no wide shuffle at all") {
    val kp = plan("knn_join")
    assert(kp.contains("WindowGroupLimit"),
      "knn_join lost its per-query rank-limit pushdown")
    // r17 ring init: the registered plan must carry the bucket-ring
    // window (partitioned on the LSH bucket key — the shape whose
    // candidate mass is linear in n) and attach vectors by broadcast
    // at fixture scale (the vecHinted gate), never a sort-merge that
    // drags vectors per candidate pair
    assert(kp.contains("row_number") && kp.contains("table_key"),
      "knn_join must plan the r17 bucket-ring window")
    assert(kp.contains("BroadcastHashJoin"),
      "knn_join's vector attach must broadcast under the size gate")
    // r18: candidates reduce to per-(table, qid) winners BEFORE the
    // pair dedup — the winner distinct's aggregate keys include cos
    // (dedup AFTER scoring, at winner scale), and both rank limits
    // (per-table and global) must push partial group limits. The
    // failure mode pinned against is the old shape returning: a
    // pair-mass distinct (keys qid, nid and NO cos) ahead of scoring
    // — a 405M-row shuffle at the 100× lab corpus (OPTIMIZATION_r18.md).
    assert("WindowGroupLimit".r.findAllIn(kp).size >= 2,
      "knn_join must push BOTH the per-table and global rank limits")
    val kLines = kp.linesIterator.toArray
    kLines.filter(l => l.contains("HashAggregate") && l.contains("qid#") &&
        l.contains("nid#"))
      .foreach { l =>
        assert(l.contains("cos#"),
          s"pair-mass distinct (pre-scoring) is back:\n$l")
      }
    // round-robin is Tables' fixture-only scan fan-out (exempt, as in
    // the text-shuffle checks); the quantization itself must add no
    // hash/range exchange
    val p = plan("embed_q8")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"),
      "embed_q8 must be a pure narrow map")
  }

  test("tfidf_topk plans rank-limit pushdown and a broadcast df join") {
    val p = plan("tfidf_topk")
    // rn <= 5 must prune per-doc groups BEFORE the exchange, like
    // sample_per_key — 4.3 s of the bench rides on this shape
    assert(p.contains("WindowGroupLimit"), "tfidf_topk lost its rank-limit pushdown")
    // the document-frequency side is vocabulary-sized — it must come
    // in as a broadcast, not a shuffle of the full (doc, tok) stream
    assert(p.contains("BroadcastHashJoin"), "tfidf_topk df join is not broadcast")
  }

  test("bm25_topk plans rank-limit pushdown and no text in wide exchanges") {
    val p = plan("bm25_topk")
    assert(p.contains("WindowGroupLimit"), "bm25_topk lost its per-term rank-limit pushdown")
    assertNoTextInWideExchanges("bm25_topk")
  }

  test("zorder_cluster is a pure narrow map") {
    val p = plan("zorder_cluster")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"),
      "the z-value computation must ride the scan")
  }

  test("join_salted keeps its sort-merge join on the salted key") {
    val p = plan("join_salted")
    // a broadcast would optimize the salt away and gate nothing
    assert(p.contains("SortMergeJoin"), "salted join must stay sort-merge")
    assert(p.contains("Generate explode"), "build side must replicate across salts")
    assert(p.contains("partial_"), "post-join aggregation must map-side combine")
  }

  test("pagerank reuses persisted edges and plans partial aggregation per round") {
    val p = plan("pagerank")
    // edges + outdeg are persisted and hit multiple times per round:
    // the plan must read the cache, not re-derive the purchase join
    assert(p.contains("InMemoryTableScan"), "pagerank must reuse persisted edges")
    assert(p.contains("partial_"), "contribution sum must map-side combine")
  }

  test("profile_approx plans no Expand — the KMV profile is one partial+final pass") {
    val p = plan("profile_approx")
    assert(!p.contains("Expand"),
      "approx profile must not multiply the row stream (that's profile_table's exact trade)")
    assert(p.contains("partial_kmv_distinct"), "KMV sketches must map-side combine")
    // the exact variant keeps its documented Expand — both shapes on the menu
    assert(plan("profile_table").contains("Expand"))
  }

  test("agg_approx_distinct: no HyperLogLogPlusPlus aggregate sits above an Expand") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // HLL++ buffers under an Expand are allocated once per expanded
    // group — the 129 s full-materialization blow-up at sf0.1
    val p = SparkEntry.queries("agg_approx_distinct")(spark, dir).queryExecution.sparkPlan
    val hll = p.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(
        _.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus]) => a
    }
    assert(hll.nonEmpty, "the sketches must stay HLL++ aggregates")
    hll.foreach(a => assert(a.collectFirst { case e: ExpandExec => e }.isEmpty,
      s"HLL++ aggregate above an Expand:\n$a"))
    // the two exact distincts keep their one Expand
    assert(p.collectFirst { case e: ExpandExec => e }.nonEmpty)
  }

  test("ann_pq pushes the shortlist rank limit and keeps all distance math in longs") {
    val p = plan("ann_pq")
    // the top-100 ADC cut must prune per map task, not post-exchange
    assert(p.contains("WindowGroupLimit"), "shortlist cut must push down")
    assert(!p.contains("CartesianProduct"))
    // r9: the per-query ADC tables are a RELATION met by broadcast
    // hash join — the r8 driver loop over collected query vectors is
    // gone, so a 10k-query batch only widens the broadcast
    assert(p.contains("BroadcastHashJoin"), "query ADC tables must join by broadcast")
    assert(p.contains("partial_sum"), "ADC sum must map-side combine")
  }

  test("ann_index search path contains no training jobs and no object code (r9 item)") {
    // queries("ann_index") builds the index eagerly (write side) and
    // returns the SEARCH plan — which must only read the stored
    // artifacts: no Lloyd/codebook stages (those are object-code
    // mapPartitions in the build), no driver-materialized tables,
    // every per-query structure a broadcast relation
    val p = plan("ann_index")
    assert(!p.contains("SerializeFromObject") && !p.contains("DeserializeToObject") &&
      !p.contains("MapPartitions"),
      "training/object-code stage leaked into the stored-index search plan")
    assert(!p.contains("LocalTableScan"), "driver-materialized table in the search plan")
    assert(p.contains("BroadcastHashJoin"), "probe/ADC joins must broadcast")
    assert(p.contains("WindowGroupLimit"), "shortlist cut must push down")
  }

  test("ann_index_add: the add+search path is relational — no retraining, no object code") {
    // the build trains on the base eagerly; the RETURNED plan is the
    // incremental add (relational assignment of the delta against the
    // stored artifacts) + search over the merged index — it must
    // contain no object-code stages and no driver-materialized tables
    val p = plan("ann_index_add")
    assert(!p.contains("SerializeFromObject") && !p.contains("DeserializeToObject") &&
      !p.contains("MapPartitions"),
      "object-code stage leaked into the incremental add/search plan")
    assert(!p.contains("LocalTableScan"), "driver-materialized table in the add path")
    assert(p.contains("BroadcastHashJoin"), "assignment/probe joins must broadcast")
  }

  test("ivm_agg: the view merge is a broadcast hash join (maintenance cost ∝ |Δ|)") {
    val p = plan("ivm_agg")
    assert(p.contains("BroadcastHashJoin"), "IVM aggregate merge must broadcast the delta view")
  }

  test("gram_matrix: row-side outer product, one aggregation exchange, partial combine") {
    val p = plan("gram_matrix")
    // the n×4096 expansion is a Generate inside the scan stage, and
    // only the 4096-row partial aggregates cross the single shuffle
    assert(p.contains("Generate posexplode"), "outer product must be generated row-side")
    assert(p.contains("partial_"), "gram sums must partial-combine before the exchange")
    val exchanges = "Exchange [a-z]*partitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"gram_matrix should shuffle exactly once, found $exchanges")
  }

  test("pca_power: distributed work ends at gram_matrix; the returned frame is driver metadata") {
    // the 64×64 iteration is BigInt math over gram_matrix's collected
    // 4096 rows (the learnedCentroids precedent) — the RETURNED plan
    // must be a pure local scan: any Exchange here would mean the
    // iteration leaked back into the cluster as per-row work
    val p = plan("pca_power")
    assert(p.contains("LocalTableScan"), "pca_power result must be driver metadata")
    assert(!p.contains("Exchange"), "pca_power's returned frame must not shuffle")
  }

  test("image_histogram: decode + histogram fold stay inside the partition — no keyed exchange") {
    // pixels never shuffle: the PNG decodes and folds to ≤16 bucket
    // rows per image inside mapPartitions, so the plan carries the
    // object stages but NO exchange of any kind
    val p = plan("image_histogram")
    // the loader's round-robin split is allowed (the gopher_quality
    // rule); what must NOT appear is any KEYED exchange
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      "image_histogram must not shuffle pixels or buckets on a key")
    assert(p.contains("MapPartitions"), "decode must be partition-resident")
  }

  test("abc_class: one keyed exchange; the prefix sum lives in the sorted RDD lineage") {
    // fact → |parts| fold is the only hash exchange in the returned
    // plan; the range sort + two-pass prefix stamp are RDD-side (the
    // globalBand machinery), and the class rollup partial-combines
    val p = plan("abc_class")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex == 1, s"abc_class: expected 1 keyed exchange, found $ex")
    assert(p.contains("partial_"), "class rollup must partial-combine")
  }

  test("repeat_rate: customer-keyed window + month rollup = exactly 2 exchanges") {
    val p = plan("repeat_rate")
    assert(p.contains("Window"), "lifetime rank must be a windowed rank")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex == 2, s"repeat_rate: expected 2 exchanges, found $ex")
  }

  test("order_size_hist / stickiness / doclen_percentiles / event_interarrival: shared folds persist once") {
    // each op computes a fold consumed by two branches (rollup +
    // scalar/cumulative); the cache must serve BOTH reads or the
    // fact scan re-runs per branch (playbook: count cache reads,
    // not exchanges, below a persist)
    Seq("order_size_hist", "stickiness", "doclen_percentiles",
      "event_interarrival").foreach { name =>
      val p = plan(name)
      val reads = "InMemoryTableScan".r.findAllIn(p).size
      assert(reads >= 2, s"$name: shared fold must feed both branches from cache, found $reads reads")
      graft.CacheScope.release()
    }
  }

  test("segment_migration: band frames meet in ONE full-outer key join") {
    val p = plan("segment_migration")
    assert(p.contains("FullOuter"), "entered/lapsed customers need a full-outer join")
    graft.CacheScope.release()
  }

  test("token_dispersion: global top-k is TakeOrderedAndProject, anchor broadcasts") {
    val p = plan("token_dispersion")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(p.contains("BroadcastHashJoin"), "n_docs anchor must broadcast")
  }

  test("ttr_diversity: token fold then source rollup — 2 exchanges, both partial-combined") {
    val p = plan("ttr_diversity")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex == 2, s"ttr_diversity: expected 2 exchanges, found $ex")
    assert("partial_".r.findAllIn(p).size >= 2, "both folds must partial-combine")
  }

  test("knn_margin: broadcast probe set + rank-2 WindowGroupLimit pushdown") {
    val p = plan("knn_margin")
    assert(p.contains("WindowGroupLimit"), "rank-2 cut must push down")
    assert(!p.contains("CartesianProduct"), "probe side must broadcast")
  }

  test("late_arrival_hist: user-keyed running max, then metadata histogram fold") {
    val p = plan("late_arrival_hist")
    assert(p.contains("Window"), "lateness must be a running-max window")
    assert(!p.contains("SinglePartition"), "the window must stay user-keyed")
    assert(p.contains("partial_"), "histogram must partial-combine")
  }

  test("clean_funnel / dedup_rate_by_lang: cluster labels broadcast against the corpus scan") {
    // the near-dup label relation is bounded by the dup rate, never
    // the corpus — both consumers must plan it as the broadcast side
    Seq("clean_funnel", "dedup_rate_by_lang").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name must broadcast the label set")
      assert(!p.contains("SortMergeJoin"), s"$name shuffles the corpus against labels")
      graft.CacheScope.release()
    }
  }

  test("ngram_coverage: scan-resident bigrams, TakeOrderedAndProject top-k, bounded window") {
    val p = plan("ngram_coverage")
    assert(p.contains("Generate explode"), "bigrams must be generated row-side")
    assert(!p.contains("SortMergeJoin"), "no positional self-join for bigrams")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    graft.CacheScope.release()
  }

  test("watermark_whatif / centroid_outliers / cell_label_purity: broadcast anchors, no stray windows") {
    val ww = plan("watermark_whatif")
    assert(ww.contains("BroadcastHashJoin"), "the 5-row δ grid must broadcast")
    assert(ww.contains("Window"), "lateness needs the user-keyed running max")
    val co = plan("centroid_outliers")
    assert(co.contains("WindowGroupLimit"), "top-k outlier cut must push down")
    assert(co.contains("BroadcastHashJoin"), "the |labels|×64 centroid table must broadcast")
    val cp = plan("cell_label_purity")
    assert(!cp.contains("Window, "), "majority pick is an argmax-by-struct fold, not a window")
    assert(cp.contains("partial_"), "cell counts must partial-combine")
    graft.CacheScope.release()
  }

  test("vocab_overlap: the shared type fold persists once and feeds sizes + intersection") {
    val p = plan("vocab_overlap")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "the distinct (source, token) fold must serve both branches from cache")
    graft.CacheScope.release()
  }

  test("session_duration_hist / export_shard_balance / quality_by_source: composition rollups stay thin") {
    // each composes a gated parent + ONE metadata-scale fold: no new
    // wide shuffles beyond the parent's own
    val sd = plan("session_duration_hist")
    val sdEx = "Exchange hashpartitioning".r.findAllIn(sd).size
    assert(sdEx == 2, s"session windows + duration rollup = 2 exchanges, found $sdEx")
    val eb = plan("export_shard_balance")
    assert("InMemoryTableScan".r.findAllIn(eb).size >= 2,
      "the 64-row shard fold must feed total + readout from cache")
    val qs = plan("quality_by_source")
    val qsEx = "Exchange hashpartitioning".r.findAllIn(qs).size
    assert(qsEx <= 2 && qs.contains("partial_"),
      s"scan-resident flags + source rollup, found $qsEx exchanges")
    graft.CacheScope.release()
  }

  test("sort_export: global sort plans a range-partitioned exchange, not a funnel") {
    val p = plan("sort_export")
    assert(p.contains("rangepartitioning"), "global sort must range-partition")
    assert(!p.contains("SinglePartition"), "global sort funneled to one partition")
  }

  test("gaps_islands / interval_merge: one user_id exchange feeds window AND aggregate") {
    // the (user_id, island) group-by must REUSE the window's user_id
    // hash partitioning (subset-key satisfaction) — a second exchange
    // after the window would double the shuffle volume at any scale
    val gi = plan("gaps_islands")
    val giEx = "Exchange [a-z]*partitioning".r.findAllIn(gi).size
    assert(giEx == 2, s"gaps_islands: distinct + window = 2 exchanges, found $giEx")
    val im = plan("interval_merge")
    val imEx = "Exchange [a-z]*partitioning".r.findAllIn(im).size
    assert(imEx == 1, s"interval_merge should shuffle exactly once, found $imEx")
    // both window functions (running max, island sum) share one sort
    assert("Sort ".r.findAllIn(im).size == 1,
      "interval_merge's two window passes must share a single sort")
  }

  test("skyline: linearithmic frontier — pre-aggregate + window, never a quadratic join") {
    val p = plan("skyline")
    assert(p.contains("partial_"), "per-price pre-aggregate must partial-combine")
    assert(p.contains("Window"), "frontier must come from the running-max window")
    // the join back to part rows is an equi hash join on (type, price);
    // the quadratic NOT-EXISTS formulation lives only in the oracle
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "skyline join-back must be an equi hash/sort-merge join")
  }

  test("rolling_distinct: contribution fan-out (Generate), never a range-predicate BNLJ") {
    val p = plan("rolling_distinct")
    assert(p.contains("Generate explode"), "7-day contribution must fan out row-side")
    assert(p.contains("partial_"), "distinct count must partial-combine")
    // global audit already bans BNLJ; assert the day-grid restriction
    // is the cheap semi join, not a filter after a wide join
    assert(p.contains("LeftSemi"), "day-grid restriction must be a semi join")
  }

  test("anomaly_mad: both percentile passes broadcast back over the scan") {
    val p = plan("anomaly_mad")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      "median and MAD stats must broadcast-join against the event scan")
  }

  test("ivm_join: every delta term joins by broadcast (maintenance cost ∝ |Δ|)") {
    val p = plan("ivm_join")
    // three delta terms, each broadcast-joined; the stored-view term
    // may shuffle (it is not recomputed at update time in production)
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3,
      "delta terms must broadcast")
  }

  test("kmv_set_ops: all nine sketches build in ONE pass with map-side partials") {
    val p = plan("kmv_set_ops")
    assert(p.contains("partial_kmv_distinct"), "KMV sketches must map-side combine")
    // one aggregate over one scan — no join of separately-built
    // sketch relations, no second events scan
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1,
      "set algebra must not rescan events per set expression")
  }

  test("contrastive_pairs reuses its persisted positives (LSH+verify runs once)") {
    val p = plan("contrastive_pairs")
    // the dedupEmbedding subtree feeds both the union and the
    // negatives' anchor set: both consumers must read the cache
    val hits = "InMemoryTableScan".r.findAllIn(p).size
    assert(hits >= 2, s"expected both consumers on the cached positives, saw $hits cache scans")
  }

  test("cdc_apply merges through one broadcast left join; base never shuffles") {
    val p = plan("cdc_apply")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      "the change batch must resolve U/D via one broadcast left join")
    // the snapshot side must stay narrow: no hash/range exchange at all
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      "cdc_apply must not shuffle the base snapshot")
  }

  test("freq_topk plans partial sketch aggregation and rank-limit pushdown") {
    val p = plan("freq_topk")
    // TypedImperativeAggregate → ObjectHashAggregate with a partial
    // phase: the ≤ c-entry Misra-Gries maps combine map-side
    assert(p.contains("ObjectHashAggregate"), "MG sketch must plan ObjectHashAggregate")
    assert(p.contains("partial_mg_topk"), "MG sketch lacks its partial phase")
    assert(p.contains("WindowGroupLimit"), "top-3 referee lost its rank-limit pushdown")
  }

  test("frame_dedup aggregates with map-side combine and never shuffles media bytes") {
    val p = plan("frame_dedup")
    assert(p.contains("partial_"), "frame_dedup lacks partial aggregation")
    val lines = p.linesIterator.toArray
    lines.indices
      .filter(i => lines(i).contains("Exchange hashpartitioning"))
      .foreach { i =>
        lines.drop(i + 1).find(_.trim.nonEmpty).foreach { child =>
          assert(!child.contains("media#") && !child.contains("frame_bytes#"),
            s"media bytes ride a shuffle:\n$child")
        }
      }
  }

  test("agg_incremental pushes the cutoff to both scans and plans partial everywhere") {
    val p = plan("agg_incremental")
    // both slices must prune at the parquet scan — in production the
    // base slice is a stored rollup and only the delta scans at all
    assert(p.contains("PushedFilters: [IsNotNull(ts)"),
      "cutoff predicate did not reach the scans")
    assert(p.contains("partial_"), "partial aggregation missing")
  }

  test("resample_hourly generates its grid (no cross join) and broadcasts the join-back") {
    val p = plan("resample_hourly")
    assert(p.contains("Generate explode"),
      "the hour grid must GENERATE from the span aggregate, not cross join")
    assert(p.contains("BroadcastHashJoin"),
      "grid-to-counts join-back should broadcast (both sides are grid-sized)")
  }

  test("melt_metrics plans a pure narrow Expand — no shuffle, no generate") {
    val p = plan("melt_metrics")
    assert(p.contains("Expand"), "unpivot must plan Expand")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"),
      "melt must not shuffle")
  }

  test("funnel_steps chains three windows over one user exchange") {
    val p = plan("funnel_steps")
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows >= 3, s"expected 3 chained Window passes, got $windows")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // one user-partition exchange feeds all three windows AND the
    // per-user distinct (already co-partitioned); only the final
    // global count may add its single-partition exchange
    assert(exchanges <= 1, s"funnel must reuse one user exchange:\n$p")
    assert(p.contains("Sort"), "windows must share the partition sort")
  }

  test("join_bucketed joins co-located buckets with no join-side exchange") {
    // broadcast-disabled session models the cluster regime where both
    // sides are too big to broadcast — exactly where bucketing pays
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = graft.operators.Relational.joinBucketed(s2, dir)
      .queryExecution.executedPlan.toString
    val joinExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(joinExchanges <= 1,
      s"bucketed join must not shuffle either side (only the final agg may):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "bucketed join should plan a co-located sort-merge/hash join")
  }

  test("runtime bloom filter arms on the pinned shuffle join when thresholds allow") {
    // cluster-sized thresholds keep the fixture plan unfiltered; a
    // session with the application-side threshold lowered must show
    // the injected might_contain probe on the lineitem side — the
    // pre-exchange row-drop that matters at 100 TB
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // injection targets probable SHUFFLE joins only — at fixture scale
    // the filtered build side is broadcast-able, which models the
    // wrong regime; kill auto-broadcast so the session sees the
    // cluster-scale fact-fact shape
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = graft.operators.Relational.joinRuntimeFilter(s2, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"runtime bloom filter did not inject:\n${p.linesIterator.take(40).mkString("\n")}")
    assert(p.contains("SortMergeJoin"), "the merge hint must pin the shuffle join")
  }

  test("ngram_containment shuffles shingle-hash longs, never text") {
    val p = plan("ngram_containment")
    assert(p.contains("partial_"), "ngram_containment lacks partial aggregation")
    assertNoTextInWideExchanges("ngram_containment")
  }

  test("dataset_split plans no key-based shuffle — a narrow map over the scan") {
    // the split assignment must ride the scan at any scale; the only
    // exchange allowed is the fixture fan-out (round-robin, a scan
    // property that disappears once the table has >= cores row groups)
    val p = plan("dataset_split")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      "dataset_split must not shuffle on any key")
    assert(!p.contains("Sort "), "dataset_split must not sort")
  }

  test("ann_graph: beam broadcasts against the graph; final top-k pushes its rank limit") {
    // the hop expansion must ship the |Q|xB beam to the graph, never
    // the graph to the beam — the shape that survives a graph too big
    // to broadcast; the closing rank filter must plan WindowGroupLimit
    // so per-partition candidates cut to K before the qid exchange
    val p = plan("ann_graph")
    assert(p.contains("BroadcastHashJoin"),
      "beam-vs-graph expansion must be a broadcast hash join")
    assert(p.contains("WindowGroupLimit"),
      "final top-k must push its rank limit below the window exchange")
    // hop beams are checkpointed (each hop is referenced twice; an
    // inlined lineage re-derives 2^hops times) — the plan must read
    // the materialized beam, not re-plan the previous hop's window
    assert(p.contains("Scan ExistingRDD") || p.contains("InMemoryTableScan"),
      "beam must come from a materialized checkpoint, not re-derived lineage")
  }

  test("trigram_lm: model broadcasts back over the persisted trigram stream") {
    val p = plan("trigram_lm")
    assert(p.contains("partial_"), "trigram counts must map-side combine")
    assert(p.contains("BroadcastHashJoin"),
      "the bounded trigram model must broadcast, not shuffle the stream")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "both consumers (training agg + scoring join) must read the cached stream")
    assertNoTextInWideExchanges("trigram_lm")
  }

  test("sample_balanced: thresholds broadcast; the corpus never key-shuffles") {
    val p = plan("sample_balanced")
    // the decision rides the scan: the only exchanges touching full
    // documents rows are the fixture fan-out; lang-count aggregation
    // shuffles (lang, partial count) pairs only
    assert(p.contains("BroadcastHashJoin"), "threshold table must broadcast")
    assert(!p.contains("SortMergeJoin"), "no wide join anywhere in the plan")
    val lines = p.linesIterator.toArray
    lines.indices.filter(i => lines(i).contains("Exchange hashpartitioning")).foreach { i =>
      lines.drop(i + 1).find(_.trim.nonEmpty).foreach { child =>
        assert(!child.contains("text#"), s"corpus text rides a key shuffle:\n$child")
        assert(!child.contains("doc_id#"), s"corpus rows ride a key shuffle:\n$child")
      }
    }
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "both consumers (n_min + thresholds) must read the cached count table")
  }

  test("dedup_semantic: cosine verifies inside the cell join; cells derive once") {
    val p = plan("dedup_semantic")
    // the cos >= 0.45 predicate must be part of the intra-cell join
    // (scored while cell-mates are co-located), not a post-join filter
    // over a materialized pair blow-up
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join [cell") || (l.contains("Join") && l.contains("cell#")))
    assert(joinLine.exists(_.contains("cosine_sim")),
      s"cosine must sit in the cell-join condition:\n${joinLine.getOrElse("<none>")}")
    assert(p.contains("partial_") || "HashAggregate".r.findAllIn(p).size >= 2,
      "dup-id distinct must partial-combine")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "tagged (vec_id, cell, embedding) must derive once and feed both join sides")
  }

  test("subquery_exists decorrelates to one semi and one anti hash join") {
    val p = plan("subquery_exists")
    assert(p.contains("LeftSemi"), "EXISTS must plan a left-semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan a left-anti join")
  }

  test("importance_sample is a pure narrow map — no exchange, no aggregation") {
    val p = plan("importance_sample")
    // the loader's round-robin fan-out is the only exchange allowed
    // (fixture-parallelism, not operator semantics — dataset_split's gate)
    assert(!p.contains("hashpartitioning"), "the PPS keep-test must ride the scan")
    assert(!p.contains("HashAggregate"), "no aggregation belongs in a per-row sampler")
  }

  test("inverted_index: posting heads rank-limit before collecting; tf derives once") {
    val p = plan("inverted_index")
    assert(p.contains("WindowGroupLimit"),
      "the 10-posting head must push its rank limit below the window sort")
    assert(p.contains("partial_"), "tf and df counts must partial-combine")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "the (term, doc_id, tf) relation must persist once and feed stats AND heads")
  }

  test("bigram_pmi: pairs form array-locally; margins ride the grouped relation") {
    val p = plan("bigram_pmi")
    // adjacency pairing is a Generate over the token array — the raw
    // token stream must never shuffle (only grouped (w1,w2) rows do)
    assert(p.contains("partial_"), "bigram counts must partial-combine")
    assert(p.contains("BroadcastHashJoin"),
      "the N scalar must attach as a broadcast hash join (never BNLJ)")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "grouped bigram counts must persist once and feed margins AND the total")
  }

  test("label_prop: persisted edges and seeds feed every round; votes partial-combine") {
    val p = plan("label_prop")
    assert(p.contains("partial_"), "majority votes must partial-combine")
    // 2 rounds × edge scan + per-round seed clamp + final seed union:
    // the edge/seed caches must be hit repeatedly, never rebuilt
    assert("InMemoryTableScan".r.findAllIn(p).size >= 4,
      "edges and seeds must persist once and be re-read per round")
    assert(p.contains("WindowGroupLimit") || p.contains("row_number"),
      "the majority pick is a rank-limit window over grouped votes")
  }

  test("bpe_encode: the learned vocabulary joins as a broadcast; doc sums partial-combine") {
    val p = plan("bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      "the O(vocabulary) word→n_sub table must broadcast against the token stream")
    assert(p.contains("partial_"), "per-doc subword sums must partial-combine")
  }

  test("ann_radius: threshold retrieval plans NO window at all (cheaper than top-k)") {
    val p = plan("ann_radius")
    assert(!p.contains("Window"), "radius selection must be a filter, not a per-query sort")
    assert(p.contains("BroadcastHashJoin"), "query set and probe cells must broadcast")
  }

  test("asof_nearest / twap: one user_id exchange feeds the window machinery") {
    Seq("asof_nearest", "twap").foreach { name =>
      val p = plan(name)
      assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 2,
        s"$name must not re-shuffle per window pass")
      assert(p.contains("Window"), s"$name is window-based")
    }
    assert(plan("twap").contains("partial_"), "twap sums must partial-combine")
  }

  test("poisson_bootstrap: replicate grid broadcasts; one partial+final pass") {
    val p = plan("poisson_bootstrap")
    assert(p.contains("BroadcastHashJoin"),
      "the 8-row replicate grid must attach as a broadcast hash join")
    assert(p.contains("partial_"), "replicate sums must partial-combine")
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "orders must be scanned exactly once")
  }

  test("agg_quantile_disc: the group exchange feeds sort AND final fold; no second sort") {
    val p = plan("agg_quantile_disc")
    assert(p.contains("partial_"), "the max(CASE) fold must partial-combine")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "one group-key exchange must serve the window and the aggregate")
  }

  test("cluster_stats / bpe_fertility: vocab/centroid metadata rides broadcast, media stays narrow") {
    val cs = plan("cluster_stats")
    assert(cs.contains("partial_"), "per-cell stats must partial-combine")
    assert(!cs.linesIterator.exists(l => l.contains("Exchange") && l.contains("embedding")),
      "embeddings must never key-shuffle — only (cell, cos) pairs do")
    val bf = plan("bpe_fertility")
    assert(bf.contains("BroadcastHashJoin"),
      "the learned vocabulary must broadcast against the token stream")
  }

  test("path_topk: per-session rank-limit, partial path counts, top-20 without a global sort") {
    val p = plan("path_topk")
    assert(p.contains("WindowGroupLimit"),
      "the first-5-events cut must push its rank limit below the session window")
    assert(p.contains("partial_"), "path counts must partial-combine")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must never plan a global sort")
  }

  test("kcore / lang_confusion: peeling reads materialized rounds; the rollup partial-combines") {
    // every kcore round but the last is an eager localCheckpoint, so
    // the final plan is the LAST peel round over a LogicalRDD leaf —
    // earlier rounds must NOT re-appear as lineage (that is the
    // 3^rounds declarative plan the r15 A/B measured at 29-32 s vs
    // the cut's 2.2-2.4). The earlier rounds' bodies are pinned on
    // their captured checkpoint plans in GraphRoundPlanSpec.
    val kc = plan("kcore")
    assert(kc.contains("Scan ExistingRDD"),
      "the last peel round must read the checkpointed previous round, not re-derived lineage")
    assert("LeftSemi".r.findAllIn(kc).size >= 2,
      "both endpoint survivals must stay semi joins")
    assert(kc.contains("partial_count"),
      "the degree aggregates must map-side combine")
    assert(plan("lang_confusion").contains("partial_"),
      "confusion cells must partial-combine")
  }

  test("oov_rate / knn_classify: grouped relations persist and feed every consumer") {
    val p = plan("oov_rate")
    assert(p.contains("partial_"), "(lang, tok) counts must partial-combine")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      "the grouped relation must persist once and feed vocab, totals, and OOV mass")
    val kc = plan("knn_classify")
    assert(kc.contains("WindowGroupLimit"),
      "the kNN shortlist must push its rank limit (inherited from knn_join)")
    assert(kc.contains("partial_"), "vote counts must partial-combine")
  }

  test("class_centroids / simpson_diversity: wide shuffles carry longs, partial-combine everywhere") {
    val cc = plan("class_centroids")
    assert(cc.contains("partial_"), "per-(label,dim) sums must partial-combine")
    assert(!cc.linesIterator.exists(l => l.contains("Exchange") && l.contains("embedding")),
      "raw vectors must never shuffle — only (label, dim, qv) longs")
    val sd = plan("simpson_diversity")
    assert(sd.contains("partial_"), "both aggregation phases must partial-combine")
    val fh = plan("feature_hash")
    assert(fh.contains("partial_"), "hashed-feature sums must partial-combine")
    assert("Exchange hashpartitioning".r.findAllIn(fh).size <= 1,
      "one (user, idx) exchange — hashing rides the scan")
  }

  test("cms_counts: sketch partial-aggregates; sketch and totals broadcast back") {
    val p = plan("cms_counts")
    assert(p.contains("partial_cms_sketch") || p.contains("partial_"),
      "the CMS must build with map-side partial aggregation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the |langs|-row sketch and totals must broadcast, not shuffle the grouped relation")
  }

  test("phash_dedup: grouped default — hash pre-group feeds a rep-level band join; media never shuffles") {
    val p = plan("phash_dedup")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3,
      "the persisted phash/rep/member relations must be reused, not recomputed per side")
    // r18 default flip: the executed plan must pre-group identical
    // hashes (partial min(doc_id) per distinct hash) and run the
    // band self-join over REPRESENTATIVES — a doc_id-level banded
    // self-join here would mean the quadratic per-document plan came back
    assert(p.contains("partial_min"),
      "the exact-hash pre-group (min doc_id per distinct hash) must partial-combine")
    assert("rep#\\d+L? < rep#\\d+L?".r.findFirstIn(p).isDefined,
      "the band self-join must compare representatives, not documents")
    assert(!p.linesIterator.exists(l => l.contains("Exchange") &&
      (l.contains("seed") || l.contains("png"))),
      "media/seed bytes must never shuffle — only (doc_id, band, longs)")
  }

  test("sssp_weighted: min-weight edges partial-combine and persist across relax rounds") {
    val p = plan("sssp_weighted")
    assert(p.contains("partial_min"),
      "the pair min-weight aggregate must map-side combine")
    assert(p.contains("InMemoryTableScan"),
      "sssp must reuse the persisted weighted edge list per round, not rebuild it")
  }

  test("linreg_trend: one user_id exchange feeds window min AND the moment aggregate") {
    val p = plan("linreg_trend")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      "the centering window and the moment sums must share one user_id exchange")
    assert(p.contains("partial_"), "the five moment sums must partial-combine")
  }

  test("rfm_segment: quintile bands use distributed range sorts, never a global window") {
    val p = plan("rfm_segment")
    assert(!p.contains("Window"),
      "rfm must not plan a window — an empty-partitionBy ntile collapses to one task")
    assert(p.contains("InMemoryTableScan"),
      "the per-customer rollup must persist — three band sorts and the join re-read it")
  }

  test("hits_scores: final half-rounds read checkpoints; max attaches as broadcast hash") {
    // each half-round's raw sums are an eager localCheckpoint, so the
    // final plan is the two rescales over LogicalRDD leaves. Edge-copy
    // reuse + partial_sum are pinned on the captured half-round
    // checkpoint plans in GraphRoundPlanSpec.
    val p = plan("hits_scores")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      "both final half-round scores must come from materialized checkpoints")
    assert(p.contains("partial_max"),
      "the rescale max must map-side combine")
    assert(p.contains("BroadcastHashJoin"),
      "the 1-row max must attach via ScalarJoin's broadcast hash join, not a BNLJ")
  }

  test("purchase_gaps: one custkey exchange feeds lag AND the gap aggregate") {
    val p = plan("purchase_gaps")
    assert("Exchange hashpartitioning\\(c_custkey".r.findAllIn(p).size <= 1,
      "the lag window and the gap sums must share one customer exchange")
    assert(p.contains("partial_"), "gap stats must partial-combine")
  }

  test("winsorized_mean: ranked relation persists once; edges broadcast back over it") {
    val p = plan("winsorized_mean")
    assert(p.contains("InMemoryTableScan"),
      "the ranked relation must persist — edge extraction and the clamped fold both read it")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the |types|-row rank table and edge table must broadcast, never shuffle the stream")
    assert(p.contains("partial_"), "the clamped sum must map-side combine")
  }

  test("assoc_rules: baskets persist once; top-k takes ordered; margins broadcast the rule table") {
    val p = plan("assoc_rules")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "pair enumeration and item margins must both read the persisted baskets")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 support cut must be a take-ordered, never a global sort")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both margin attachments must broadcast the 20-row rule table")
  }

  test("seasonal_profile / gini_spend / decile_lift: lattice rollups plan no global window") {
    Seq("seasonal_profile", "gini_spend", "decile_lift").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Window"),
        s"$name must not plan a window — ranks come from the distributed sort lattice")
      assert(p.contains("partial_"), s"$name sums must map-side combine")
    }
    assert(plan("seasonal_profile").contains("BroadcastHashJoin"),
      "the |types|-row totals must broadcast back over the grouped relation")
    assert(plan("decile_lift").contains("InMemoryTableScan"),
      "the scored relation must persist — the band sort and the join both read it")
  }

  test("benford_first_digit: histogram cached for both consumers; expectation and total broadcast") {
    val p = plan("benford_first_digit")
    // the 9-row histogram persists; the output side AND the scalar
    // total both read the cache (each InMemoryTableScan stringifies
    // the one cached scan, so count cache reads, not FileScans)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "digit histogram must be cached and reused by output + total")
    assert(p.contains("partial_count"), "digit counts must map-side combine")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the 9-row Benford table and the 1-row total must both broadcast")
  }

  test("pareto_share: cumulative is an equi self-join over 5 grouped rows, never a BNLJ or window") {
    val p = plan("pareto_share")
    assert(!p.contains("Window"), "pareto must not plan a window")
    assert(p.contains("InMemoryTableScan"),
      "the per-customer rollup and the band rollup must persist")
    // the >= condition is materialized as a 15-row literal pair
    // relation — the global no-BNLJ gate already covers the rest
  }

  test("discount_elasticity: dimension join + one five-moment partial aggregate, no window") {
    val p = plan("discount_elasticity")
    assert(!p.contains("Window"), "the closed form needs no window")
    assert(p.contains("partial_"), "the moment sums must map-side combine")
  }

  test("ship_latency: one month exchange; counts and medians broadcast back") {
    val p = plan("ship_latency")
    assert(p.contains("InMemoryTableScan"),
      "the ranked relation must persist — counts, median pick and stats all read it")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the |months|-row count and median tables must broadcast")
    assert(p.contains("partial_"), "latency stats must map-side combine")
  }

  test("shingle_novelty: pairs persist on the shingle key; min-agg and join share it") {
    val p = plan("shingle_novelty")
    assert(p.contains("InMemoryTableScan"),
      "the (doc, shingle) pairs must persist — first-occurrence and verdict both read them")
    assert(p.contains("partial_min"), "first-occurrence must map-side combine")
  }

  test("vocab_growth: one token exchange; decile rollups are metadata joins") {
    val p = plan("vocab_growth")
    assert(p.contains("InMemoryTableScan"),
      "the token stream must persist — occurrence and first-type folds both read it")
    assert(!p.contains("Window"), "cumulation is the literal pair equi join, never a window")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the 10-row decile relations must broadcast")
  }

  test("spend_percentile: no window, no join — rank comes from the distributed sort") {
    val p = plan("spend_percentile")
    assert(!p.contains("Window"), "percent_rank() over () is the banned single-task window")
    assert(!p.contains("Join"), "the percentile map is narrow over the sorted rank RDD")
  }

  test("quantile_table: one ranked pass serves all five probes") {
    val p = plan("quantile_table")
    assert(p.contains("InMemoryTableScan"),
      "the ranked relation must persist — counts and probe pick both read it")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the probe grid and rank lookups must broadcast")
    assert("Window".r.findAllIn(p).size <= 2,
      "exactly one ranking window (it may print per cache consumer), not one per probe")
  }

  test("user_lifecycle: one user exchange serves distinct, lag, and the week rollup input") {
    val p = plan("user_lifecycle")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size <= 1,
      "distinct and the lag window must share the single user_id exchange")
    assert(p.contains("partial_"), "the distinct and rollup must map-side combine")
  }

  test("price_volume_mix: one conditional pass builds both periods; no window") {
    val p = plan("price_volume_mix")
    assert(!p.contains("Window"), "the bridge needs no window")
    assert(p.contains("partial_sum"), "period sums must map-side combine")
    assert("FileScan parquet".r.findAllIn(p).size <= 3,
      "lineitem/orders/part each scan at most once — no second pass for period two")
  }

  test("supplier_hhi: chained partial aggregates; nation names broadcast") {
    val p = plan("supplier_hhi")
    assert(!p.contains("Window"), "the fold needs no window")
    assert(p.contains("partial_sum"), "revenue sums must map-side combine")
    assert(p.contains("BroadcastHashJoin"), "the 25-row nation table must broadcast")
  }

  test("category_drift: one conditional fact pass; totals broadcast") {
    val p = plan("category_drift")
    assert(!p.contains("Window"), "drift needs no window")
    assert(p.contains("partial_sum"), "period counts must map-side combine")
    assert(p.contains("BroadcastHashJoin"), "the 1-row totals must broadcast")
  }

  test("trade_matrix: the fact never wide-shuffles for dimensions; row totals broadcast") {
    val p = plan("trade_matrix")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "customer/supplier/nation hops and row totals must broadcast")
    assert(p.contains("partial_sum"), "cell sums must map-side combine")
    assert(!p.contains("SortMergeJoin") ||
      "SortMergeJoin".r.findAllIn(p).size <= 1,
      "only the orders-lineitem fact join may merge; dimensions broadcast")
  }

  test("churn_label: two customer-grain aggregates, no global window for the median") {
    val p = plan("churn_label")
    assert(p.contains("InMemoryTableScan"),
      "rfm and gaps aggregates must persist — median pick and join both read them")
    // each InMemoryTableScan stringifies its cached subtree (which
    // contains that aggregate's one exchange) — so the count is
    // per-consumer-printed internal exchanges, not extra shuffles
    assert("Exchange hashpartitioning\\(c_custkey".r.findAllIn(p).size <= 4,
      "the feature join rides the two grouped relations")
  }

  test("revenue_wow / drawdown: fold to the week grain BEFORE any window") {
    Seq("revenue_wow", "drawdown").foreach { name =>
      val p = plan(name)
      assert(p.contains("partial_sum"), s"$name weekly fold must map-side combine")
      // the single-partition window is legitimate ONLY because its
      // input is the already-aggregated |weeks|-row relation — the
      // partial agg must appear BELOW the window in the plan
      assert(p.indexOf("partial_sum") > p.indexOf("Window"),
        s"$name must aggregate to weeks before the time-series window")
    }
  }

  test("dup_charges: the screen is one aggregation — no self-join at any scale") {
    val p = plan("dup_charges")
    assert(!p.contains("Join"), "the block IS the group: no self-join")
    assert(p.contains("partial_"), "line folds must map-side combine")
  }

  test("pack_efficiency / source_lang_mix / dedup_by_source: governance rollups stay fold-shaped") {
    Seq("pack_efficiency", "source_lang_mix", "dedup_by_source").foreach { name =>
      val p = plan(name)
      assert(p.contains("partial_"), s"$name folds must map-side combine")
    }
    assert(plan("source_lang_mix").contains("BroadcastHashJoin"),
      "the source row totals must broadcast back")
    assert(plan("dedup_by_source").contains("InMemoryTableScan"),
      "the hashed projection must persist — rep choice and verdict join both read it")
  }

  test("embed_drift: explode-then-fold, partial all the way, no joins or windows") {
    val p = plan("embed_drift")
    assert(!p.contains("Join") && !p.contains("Window"),
      "centroid drift is pure chained aggregation")
    assert(p.contains("partial_"), "dimension partials must map-side combine")
  }

  test("type_jaccard: pair join blocks on the user key; margins broadcast") {
    val p = plan("type_jaccard")
    assert(p.contains("InMemoryTableScan"),
      "the distinct (type, user) relation must persist — pairs and margins read it")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "both |types|-row margins must broadcast")
  }

  test("pagerank_weighted: denormalized weighted edges persist; rounds shuffle state only") {
    val p = plan("pagerank_weighted")
    assert(p.contains("InMemoryTableScan"),
      "the (u,v,w,tw) relation must persist and feed every round")
    assert(p.contains("partial_sum"), "weighted contributions must map-side combine")
  }

  test("degree_dist: two chained partial aggregates, nothing else") {
    val p = plan("degree_dist")
    assert(!p.contains("Window") && p.contains("partial_"),
      "degree histogram is a pure two-level fold")
  }

  test("lorenz_curve / nation_cr1: concentration rollups stay window-free and fold-shaped") {
    Seq("lorenz_curve", "nation_cr1").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Window"), s"$name must not plan a window")
      assert(p.contains("partial_"), s"$name folds must map-side combine")
    }
    assert(plan("lorenz_curve").contains("InMemoryTableScan"),
      "the per-customer rollup and decile bands must persist")
    assert(plan("nation_cr1").contains("BroadcastHashJoin"),
      "the 25-row nation table must broadcast")
  }

  test("priority_latency / mktseg_mix: the ship_latency and mix shapes hold on new keys") {
    val pl = plan("priority_latency")
    assert(pl.contains("InMemoryTableScan") && pl.contains("partial_"),
      "priority latency reuses the persisted ranked relation and partial-combines")
    val mm = plan("mktseg_mix")
    assert(!mm.contains("Window") && mm.contains("partial_"),
      "segment mix is the pure two-aggregate rollup")
    assert("BroadcastHashJoin".r.findAllIn(mm).size >= 2,
      "row totals and nation names both broadcast")
  }

  test("r12 batch: scan-resident quality filter, metadata-fold moments, single-exchange sweep") {
    val gq = plan("gopher_quality")
    // the loader's round-robin split is parallelism, not data motion;
    // the operator itself must add no keyed shuffle
    assert(!gq.contains("Exchange hashpartitioning") && !gq.contains("Exchange rangepartitioning"),
      "gopher_quality is a pure per-row filter battery — it must ride the scan, zero keyed shuffles")
    val ac = plan("autocorr_lag7")
    assert(ac.contains("partial_"), "daily fold must partial-combine")
    assert(ac.contains("InMemoryTableScan"),
      "the |days| series persists once and feeds both lag sides")
    val io = plan("interval_overlap")
    assert("Exchange hashpartitioning".r.findAllIn(io).size <= 1,
      "one user_id exchange serves the running sum, the per-user max, and the final aggregate")
    val ep = plan("epoch_plan")
    assert(ep.contains("partial_") && ep.contains("BroadcastHashJoin"),
      "per-source fold partial-combines; the totals row attaches by broadcast hash join")
  }

  test("r12 batch: pq_distortion/mips/modularity/jaccard keep vectors and facts out of wide shuffles") {
    val pd = plan("pq_distortion")
    assert(pd.contains("partial_"), "(s, sse) sums must partial-combine")
    assert(!pd.linesIterator.exists(l => l.contains("Exchange") && l.contains("embedding")),
      "raw vectors must never shuffle — only (s, sse) longs")
    val mt = plan("mips_topk")
    assert(mt.contains("WindowGroupLimit"),
      "per-query rank limit must push below the exchange")
    val mo = plan("modularity")
    assert(mo.contains("InMemoryTableScan") && mo.contains("partial_"),
      "edges persist once; degree/community sums partial-combine")
    val jn = plan("jaccard_neighbors")
    assert(jn.contains("TakeOrderedAndProject"),
      "the global top-k must plan as per-partition heaps, never a full sort")
    assert(jn.contains("partial_"), "shared-part counts must partial-combine")
  }

  test("r12 batch 2: grouped-relation windows, scan-resident screens, fold-below-window motifs") {
    val sp = plan("skew_profile")
    assert(sp.contains("partial_"), "per-key counts must partial-combine")
    val bd = plan("burst_detect")
    assert(bd.contains("partial_"),
      "hourly counts must partial-combine before any window")
    // both windows (rank + per-user stats) run over the GROUPED
    // |active hours| relation — the raw event stream never sorts
    assert("Exchange hashpartitioning".r.findAllIn(bd).size <= 2,
      "one (user, hour) count exchange + one user_id window exchange, nothing more")
    val bf = plan("blocklist_filter")
    assert(!bf.contains("Exchange hashpartitioning") || bf.contains("partial_"),
      "the blocklist screen rides the scan; only the source rollup shuffles")
    val sm = plan("sax_motifs")
    assert(sm.contains("partial_"), "the daily fold must partial-combine")
    val ga = plan("graph_assortativity")
    assert(ga.contains("InMemoryTableScan") && ga.contains("partial_"),
      "edges persist once; degree and moment folds partial-combine")
  }

  test("r12 batch 3: fusion and calibration compose their gated inputs; backlog folds below its window") {
    val rf = plan("rank_fusion")
    assert("WindowGroupLimit".r.findAllIn(rf).size >= 2,
      "both input rankings must keep their per-query rank-limit pushdown")
    assert(rf.contains("partial_"), "the RRF sum must partial-combine")
    val kc = plan("knn_calibration")
    assert(kc.contains("partial_"), "vote buckets must partial-combine")
    val ob = plan("order_backlog")
    assert(ob.contains("partial_"), "per-order close month must partial-combine")
    // the running-sum window sorts the |months| fold, not the fact
    // stream: no rangepartitioning exchange of order/lineitem rows
    // wider than the month fold should appear after the join
    assert(ob.contains("InMemoryTableScan"),
      "spans persist once and feed both the opened and closed folds")
  }

  test("r12 batch 4: eval composition, card folds, personalized BSP keeps the Pregel invariant") {
    val ar = plan("ann_recall")
    assert(ar.contains("WindowGroupLimit"),
      "both composed rankings keep their per-query rank limit")
    val cc = plan("corpus_card")
    assert(cc.contains("partial_") && cc.contains("BroadcastHashJoin"),
      "card folds partial-combine; the dup-mass scalar attaches by broadcast")
    val gs = plan("gap_survival")
    assert(gs.contains("partial_"), "horizon rollup must partial-combine")
    assert(!gs.linesIterator.exists(l => l.contains("Exchange") && l.contains("o_comment")),
      "only (key, ok, od) columns may shuffle")
    val pp = plan("pagerank_personalized")
    assert(pp.contains("InMemoryTableScan") && pp.contains("partial_"),
      "edges persist once; per-round contributions partial-combine")
    val ae = plan("audio_energy")
    assert(!ae.contains("Exchange hashpartitioning") && !ae.contains("Exchange rangepartitioning"),
      "audio frame features are computed in the decode pass — zero keyed shuffles")
  }

  test("r12 batch 6: multi-measure pivot stays one aggregate; funnel/session windows share keyed exchanges") {
    val pm = plan("pivot_multi")
    assert(pm.contains("partial_"), "the pivot must plan as one partial+final aggregate")
    assert(!pm.contains("Expand") || pm.contains("partial_"),
      "no per-measure rescan — conditional aggregation in one pass")
    val fl = plan("funnel_latency")
    assert(fl.contains("partial_"), "the step rollup must partial-combine")
    val sc = plan("session_conversion")
    assert(sc.contains("partial_"),
      "session fold and band rollup must partial-combine")
    assert("Exchange hashpartitioning".r.findAllIn(sc).size <= 2,
      "one user_id window exchange + one band rollup exchange at most")
  }

  test("r12 batch 7: exact-moment envelopes, per-vertex triangles, scan-resident text profiles") {
    val bb = plan("bollinger_breach")
    assert(bb.contains("partial_"),
      "the daily fold and the monthly rollup must both partial-combine")
    // the trailing-moment window runs over the |days| fold (drawdown
    // contract) — exactly one rangepartitioning sort for the window
    assert("Exchange rangepartitioning".r.findAllIn(bb).size <= 1,
      "one metadata-scale window sort, never a fact-table sort")
    val xc = plan("cross_corr")
    assert(xc.contains("InMemoryTableScan"),
      "the |days| series persists once and feeds both the probe and the target side")
    assert(xc.contains("partial_"), "the daily fold and per-lag moments must partial-combine")
    val cf = plan("clustering_coeff")
    assert(cf.contains("InMemoryTableScan"),
      "the pair graph persists once behind the degree fold and the 3-way triangle join")
    assert(cf.contains("partial_"), "degree and triangle counts must partial-combine")
    val rd = plan("readability")
    assert(rd.contains("partial_"),
      "per-doc regex counts fold in one partial+final aggregate")
    assert("Exchange hashpartitioning".r.findAllIn(rd).size <= 1,
      "readability is scan-resident: only the source rollup shuffles")
    val fd = plan("fd_check")
    assert(fd.contains("partial_"), "each FD's countDistinct must partial-combine")
    assert(!fd.linesIterator.exists(l => l.contains("Exchange") && l.contains("p_retailprice")),
      "only determinant/dependent key columns may shuffle")
  }

  test("r12 batch 8: VAD islands, reciprocity slices, joinless A/B, mutual-kNN rank pushdown") {
    val av = plan("audio_vad")
    assert("Exchange hashpartitioning".r.findAllIn(av).size <= 1,
      "one doc_id exchange serves the island window and both rollups")
    assert(!av.linesIterator.exists(l => l.contains("Exchange") && l.contains("media")),
      "media bytes never shuffle — only (doc_id, idx) longs")
    val tr = plan("trade_reciprocity")
    assert("BroadcastHashJoin".r.findAllIn(tr).size >= 2,
      "customer- and supplier-nation dims broadcast onto the fact")
    assert(tr.contains("InMemoryTableScan"),
      "the nation-pair fold persists once and feeds both direction slices")
    assert(tr.contains("partial_"), "the fact fold must partial-combine")
    val ab = plan("ab_test")
    assert(!ab.contains("Join"),
      "arm assignment is a pure per-row function — the readout plans zero joins")
    assert(ab.contains("partial_"),
      "per-user conversion fold and the 1-row readout both partial-combine")
    val mk = plan("mutual_knn")
    assert(mk.contains("WindowGroupLimit"),
      "per-source top-k prunes to k rows per partition before the exchange")
    assert(mk.contains("InMemoryTableScan"),
      "the tagged relation and the top-k relation persist once behind their self-joins")
  }

  test("r12 batch 9: hashed-key sentence screen, triangular-broadcast ECDF, scan-resident norms") {
    val sd = plan("sentence_dedup")
    assert(!sd.linesIterator.exists(l => l.contains("Exchange") && l.contains("text")),
      "sentences shuffle as 16-hex md5 prefixes, never as text")
    assert(sd.contains("InMemoryTableScan"),
      "the distinct (doc, hash) relation persists once behind frequency and verdict")
    assert(sd.contains("partial_"), "cross-doc frequency must partial-combine")
    val ks = plan("ks_test")
    assert(ks.contains("partial_"), "per-customer fold and bucket counts partial-combine")
    assert(ks.contains("BroadcastHashJoin"),
      "the triangular cumulative grid and the totals row attach by broadcast hash join")
    assert(!ks.contains("CartesianProduct") && !ks.contains("BroadcastNestedLoopJoin"),
      "no cartesian anywhere — the ScalarJoin contract")
    val en = plan("embed_norm_stats")
    assert("Exchange hashpartitioning".r.findAllIn(en).size <= 1,
      "one label exchange for the rollup — vectors never shuffle")
    assert(en.contains("partial_"), "norm moments partial-combine")
  }

  test("r12 batch 10: month-fold windows, broadcast share hierarchy, candidate-scoped sketch eval") {
    val rr = plan("return_rate_trend")
    assert(rr.contains("partial_"), "the month fold must partial-combine")
    val rs = plan("rollup_share")
    assert("BroadcastHashJoin".r.findAllIn(rs).size >= 2,
      "nation/region dims and both total levels attach by broadcast")
    assert(rs.contains("InMemoryTableScan"),
      "the nation fold persists once behind the region and world re-aggregates")
    assert(!rs.contains("CartesianProduct") && !rs.contains("BroadcastNestedLoopJoin"),
      "share attachment is the ScalarJoin hash shape")
    val fb = plan("forecast_backtest")
    assert(fb.contains("partial_"), "the month fold must partial-combine")
    assert(!fb.linesIterator.exists(l => l.contains("Exchange") && l.contains("o_totalprice")),
      "only folded (m, cents) rows reach the window — never order rows")
    val lc = plan("ltv_curve")
    assert(lc.contains("InMemoryTableScan") && lc.contains("partial_"),
      "customer-month and tenure folds persist once; all folds partial-combine")
    assert(!lc.contains("CartesianProduct") && !lc.contains("BroadcastNestedLoopJoin"),
      "the triangular grid is a broadcast equi-join, not a BNLJ")
    val ma = plan("minhash_accuracy")
    assert(ma.contains("InMemoryTableScan"),
      "candidate shingles and signatures persist once behind the pair joins")
    assert(ma.contains("partial_"), "signature minima fold map-side")
  }

  test("audio_zcr / image_dominant_color: features fold inside the partition — no keyed exchange") {
    // the image_histogram rule: codec + per-clip fold are partition-
    // resident; only (doc_id, a few longs) ever leave the scan
    Seq("audio_zcr", "image_dominant_color", "image_edge_density", "scene_cuts",
        "audio_wht", "image_equalize").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning") &&
        !p.contains("Exchange rangepartitioning"),
        s"$name must not shuffle samples/pixels on a key")
      assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
        s"$name decode must be partition-resident")
    }
  }

  test("ann_filtered: the label predicate makes the probe join HASH-joinable, and rank-limit plans") {
    // unlike ann_topk's pure-inequality BNLJ, the per-query label
    // equality gives the join a key — the filter belongs INSIDE
    // candidate generation, and the plan proves it pruned there
    val p = plan("ann_filtered")
    assert(p.contains("BroadcastHashJoin"), "label equality must plan a hash join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "the filter must not degrade to a BNLJ")
    assert(p.contains("WindowGroupLimit"), "per-query top-k must push the rank limit")
  }

  test("dedup_keep_best: the corpus-wide manifest join broadcasts the ranked labels") {
    val p = plan("dedup_keep_best")
    assert(p.contains("BroadcastHashJoin"),
      "keep-best manifest must broadcast the banding-bounded cluster labels")
    assert(!p.contains("SortMergeJoin"),
      "the corpus id set must not shuffle against tiny cluster labels")
  }

  test("bfs_reach: reuses the persisted BFS edge relation; the rollup is partial+final") {
    val p = plan("bfs_reach")
    // edges persist once inside graphBfs — the rollup must read the
    // cache, not re-derive the join of orders×lineitem per round
    assert(p.contains("InMemoryTableScan"), "bfs_reach must reuse the cached edges")
    assert(p.contains("partial_"), "bfs_reach's histogram must combine map-side")
  }

  test("link_predict_ra: blocked candidates, no BNLJ, global top-k is TakeOrderedAndProject") {
    val p = plan("link_predict_ra")
    assert(p.contains("TakeOrderedAndProject"),
      "link_predict_ra's top-k must not plan a full global sort")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "link_predict_ra must stay key-joined (rare-part blocking)")
  }

  test("chunk_overhead: one keyed exchange — the per-doc rollup over the chunk stream") {
    val p = plan("chunk_overhead")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"chunk_overhead planned $exchanges keyed exchanges, expected 1")
    assert(p.contains("partial_"), "chunk_overhead must combine map-side")
  }

  test("bloom_probe: the bit set and key set ride broadcast joins, never a shuffle join") {
    val p = plan("bloom_probe")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      "bloom_probe's bits join and membership join must both broadcast")
    assert(!p.contains("SortMergeJoin"),
      "bloom_probe must not shuffle the probe side against broadcast-sized filters")
  }

  test("join_dpp: the fact scan carries a dynamic-partition-pruning subquery") {
    // the whole point of the operator: 5 of 7 year directories are
    // never opened — the partition filter must be the runtime DPP
    // subquery, not a static predicate
    val p = plan("join_dpp")
    assert(p.contains("dynamicpruningexpression"),
      s"join_dpp's fact scan lost its DPP filter:\n${p.linesIterator.take(25).mkString("\n")}")
    assert(p.contains("PartitionFilters"), "fact side must be a partitioned scan")
  }

  test("pca_project: the transform is one narrow map over the scan — no exchange, no join") {
    // loadings are driver metadata embedded as literals; the returned
    // plan must be scan → project only
    val p = plan("pca_project")
    // the loader's round-robin split is allowed (the gopher_quality
    // rule); the transform itself must not move rows by key
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"), "pca_project must not shuffle on a key")
    assert(!p.contains("Join"), "pca_project must not join — loadings ride as literals")
    assert(p.contains("FileScan") || p.contains("Scan parquet"),
      "pca_project must read the embeddings scan directly")
  }

  test("ktruss: the final support scan reads the checkpointed last round") {
    // every ktruss round (incl. the last — its output is referenced
    // 4× by the final support join) is an eager localCheckpoint, so
    // the audited plan is the left join + one support enumeration over
    // a LogicalRDD leaf.
    val p = plan("ktruss")
    assert(p.contains("Scan ExistingRDD"),
      "ktruss's final support join must read the materialized last round, not re-derived lineage")
    assert(p.contains("partial_count"),
      "triangle support must map-side combine")
  }

  test("batch-J shapes: embed_center narrow map, hard_negatives rank-limit, theilsen fold-below-window") {
    val ec = plan("embed_center")
    assert(!ec.contains("Exchange hashpartitioning") &&
      !ec.contains("Exchange rangepartitioning"),
      "embed_center's transform must be scan-resident (means ride as literals)")
    assert(!ec.contains("Join"), "embed_center must not join")
    val hn = plan("hard_negatives")
    assert(hn.contains("WindowGroupLimit"), "hard_negatives must push the rank limit")
    val ts = plan("theilsen_trend")
    assert(ts.contains("InMemoryTableScan"),
      "theilsen_trend's pair grid must read the persisted daily fold")
    assert(ts.contains("partial_"), "the daily fold must combine map-side")
    val jr = plan("jsonl_roundtrip")
    assert(jr.contains("partial_"), "jsonl_roundtrip's rollup must combine map-side")
    assert(jr.contains("Scan json") || jr.contains("FileScan json"),
      "jsonl_roundtrip must actually read the JSON source")
  }

  test("k_anonymity / quantile_normalize: partial folds; exact ranks avoid single-partition windows") {
    val ka = plan("k_anonymity")
    assert(ka.contains("partial_"), "k_anonymity must combine map-side")
    val qn = plan("quantile_normalize")
    // the corpus-wide rank rides the sort+zipWithIndex RDD (its range
    // exchange lives in the RDD lineage, surfacing here as an
    // ExistingRDD scan); what must NOT appear is a single-partition
    // global window over the corpus
    assert(!qn.contains("Exchange SinglePartition"),
      "quantile_normalize's corpus rank must use the distributed sort, not a global window")
    assert(qn.contains("Scan[obj") || qn.contains("ExistingRDD"),
      "the exact global rank must come from the zipWithIndex primitive")
  }

  test("orc_roundtrip: the predicate reaches the ORC scan; observed_scan is driver metadata") {
    val oc = plan("orc_roundtrip")
    assert(oc.contains("Scan orc") || oc.contains("FileScan orc"),
      "orc_roundtrip must actually read ORC")
    assert(oc.contains("PushedFilters: [IsNotNull(event_type), Not(EqualTo(event_type,view))]") ||
      oc.contains("Not(EqualTo(event_type,view))"),
      s"the filter must push into the ORC reader:\n${oc.linesIterator.take(20).mkString("\n")}")
    val os = plan("observed_scan")
    assert(os.contains("LocalTableScan"),
      "observed_scan's registered row is the observation — driver metadata, no re-scan")
    val ff = plan("fano_factor")
    assert(ff.contains("partial_"), "fano_factor's hourly fold must combine map-side")
  }

  test("label_noise: cell-keyed candidates with a per-partition k-cut; kendall_tau folds the fact once") {
    val ln = plan("label_noise")
    assert(ln.contains("WindowGroupLimit"),
      "label_noise's k-cut must ride the per-partition heap before the exchange")
    assert(ln.sliding("InMemoryTableScan".length).count(_ == "InMemoryTableScan") >= 2,
      "the (cell, q, label) relation must feed both join sides from ONE cache")
    val kt = plan("kendall_tau")
    assert(kt.sliding("InMemoryTableScan".length).count(_ == "InMemoryTableScan") >= 2,
      "kendall_tau must scan the fact once and slice both years from cache")
    assert(kt.contains("BroadcastNestedLoopJoin"),
      "the pair grid's y side must broadcast (≤25-row folded relation)")
    val ck = plan("conformal_knn")
    assert(ck.contains("BroadcastHashJoin"),
      "conformal_knn's centroid table must broadcast against the vector scan")
    assert(!ck.contains("Exchange rangepartitioning"),
      "the threshold's distributed sort happens during construction, not in the returned plan")
  }

  test("t_closeness folds the dim table once; table_fingerprint and graph_diameter keep their scale shapes") {
    val tc = plan("t_closeness")
    assert(tc.sliding("InMemoryTableScan".length).count(_ == "InMemoryTableScan") >= 2,
      "the (group, bucket) fold must feed corpus/groups/grid from ONE cache")
    assert(tc.contains("BroadcastHashJoin"),
      "the |buckets|-row corpus relation must broadcast into the grid")
    val tf = plan("table_fingerprint")
    assert(tf.contains("partial_"),
      "the fingerprint sum must combine map-side (one fold over the scan)")
    assert(!tf.contains("Exchange rangepartitioning"),
      "an order-insensitive fingerprint must never sort")
    val gd = plan("graph_diameter")
    assert(gd.contains("LocalTableScan") && !gd.contains("Exchange"),
      "graph_diameter's returned row is driver metadata (the pca_power rule); the sweeps ran during construction")
  }

  test("cohens_kappa is driver metadata past the cell fold; dp_histogram noises the FOLDED relation") {
    // kappa's lattice math runs on the |langs|²-bounded cells — the
    // returned frame is a LocalTableScan (the pca_power rule)
    val ck = plan("cohens_kappa")
    assert(ck.contains("LocalTableScan") && !ck.contains("Exchange"),
      "cohens_kappa's returned row is driver metadata; the fold ran during construction")
    // dp_histogram: ONE partial+final fold to |nations| cells; the
    // noise draw is a scalar expression on the folded relation —
    // exactly one keyed exchange, never a second
    val dp = plan("dp_histogram")
    assert(dp.contains("partial_"), "dp_histogram's count must combine map-side")
    assert(dp.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") === 1,
      "the per-cell noise must not introduce a second exchange")
  }

  test("ses_forecast is driver metadata; mmr_select picks from one pool cut") {
    // the recurrence is sequential by nature — the |days|-bounded fold
    // ran during construction; the returned frame must be local
    val sf = plan("ses_forecast")
    assert(sf.contains("LocalTableScan") && !sf.contains("Exchange"),
      "ses_forecast's returned series is driver metadata (the pca_power rule)")
    // mmr_select: the ONE corpus-scale stage is the pool cut (rank-limit
    // pushdown); the greedy rounds run in a row kernel over each
    // query's collected pool, so nothing is cached and no round adds
    // a Window
    val mm = plan("mmr_select")
    assert(mm.contains("WindowGroupLimit"),
      "the pool cut must ride the per-partition heap before the exchange")
    assert(!mm.contains("InMemoryTableScan"),
      "the rounds read the collected pool, not a cached pool and pair table")
    assert("\\bWindow \\[".r.findAllIn(mm).size === 1,
      "the pool cut is the only Window: the plan must not grow with MmrK")
  }

  test("parameter fan-outs plan one pass: ivf_probe_curve, ref_integrity, fd_check, lsh_threshold_plan, bloom_probe") {
    def scans(p: String, table: String): Int =
      p.linesIterator.count(l => l.contains("FileScan parquet") && l.contains(s"/$table.parquet]"))
    // ivf_probe_curve: one probe plan tags candidates with every level,
    // no per-level copy (the four-copy union read 12 parquet scans)
    val ivf = plan("ivf_probe_curve")
    assert(!ivf.contains("Union"), "the probe levels must not be one sub-plan each")
    assert(ivf.linesIterator.count(_.contains("FileScan parquet")) < 12)
    // ref_integrity / fd_check: every table is read once, for all the
    // rules it takes part in
    val ri = plan("ref_integrity")
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "events").foreach { t =>
      assert(scans(ri, t) === 1, s"ref_integrity must scan $t once")
    }
    val fd = plan("fd_check")
    Seq("part", "orders", "customer").foreach { t =>
      assert(scans(fd, t) === 1, s"fd_check must scan $t once")
    }
    // lsh_threshold_plan: the plans tag one range, not a range per plan
    assert("\\bRange \\(".r.findAllIn(plan("lsh_threshold_plan")).size === 1)
    // bloom_probe: hash positions come from one explode, not K unions
    assert(!plan("bloom_probe").contains("Union"))
  }

  test("kneser_ney / coreset_kcenter / interval_coverage keep their scale shapes") {
    // kneser_ney: the top-100 cut is a TakeOrdered, never a global
    // sort; the (w1,w2) fold persists once and feeds both margin
    // windows plus the ntypes scalar
    val kn = plan("kneser_ney")
    assert(kn.contains("TakeOrderedAndProject"),
      "kneser_ney's top-100 must never plan a global sort")
    assert(kn.sliding("InMemoryTableScan".length).count(_ == "InMemoryTableScan") >= 2,
      "the bigram fold must feed margins and ntypes from ONE cache")
    // coreset_kcenter: bounded rounds ran during construction (rank-1
    // TakeOrdered each); the returned frame is driver metadata
    val ck = plan("coreset_kcenter")
    assert(ck.contains("LocalTableScan") && !ck.contains("Exchange"),
      "coreset_kcenter's returned picks are driver metadata (the pca_power rule)")
    // interval_coverage: the rollup folds in place on the merge's
    // user_id exchange — exactly one keyed exchange end to end
    val ic = plan("interval_coverage")
    assert(ic.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") === 1,
      "the coverage rollup must reuse the merge's user_id partitioning")
  }

  test("lm_surprisal scans trigrams once; char_profile combines map-side") {
    val ls = plan("lm_surprisal")
    assert(ls.sliding("InMemoryTableScan".length).count(_ == "InMemoryTableScan") >= 2,
      "the trigram stream must feed the model fold AND the scoring join from ONE cache")
    val cp = plan("char_profile")
    assert(cp.contains("partial_"), "char_profile's source fold must combine map-side")
    assert(cp.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") === 1,
      "one narrow scan + one keyed exchange, nothing else")
  }

  test("rendezvous_shard is scan-resident up to one fold; mrl_truncate pushes both rank limits") {
    val rv = plan("rendezvous_shard")
    assert(rv.contains("partial_"), "the shard fold must combine map-side")
    // the ONE shard-fold exchange prints once per cache branch (main +
    // scalar both read the persisted fold, and InMemoryRelation
    // stringifies its cached subtree) — so <= 2 occurrences, never a sort
    assert(rv.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") <= 2,
      "the 8 digests and the argmax are scan-resident — only the shard fold exchanges")
    assert(!rv.contains("Exchange rangepartitioning"),
      "nothing in rendezvous assignment may sort")
    val mt = plan("mrl_truncate")
    assert(mt.sliding("WindowGroupLimit".length).count(_ == "WindowGroupLimit") >= 2,
      "both the full and the prefix rankings must push their rank limits")
  }

  test("encoding_advisor profiles each table in one pass") {
    val ea = plan("encoding_advisor")
    // multiple exact countDistincts share one scan via Expand — the
    // profile_table shape; one aggregate per table, never per column
    assert(ea.contains("Expand"), "exact multi-NDV must ride one Expand per table")
    assert(ea.sliding("Scan parquet".length).count(_ == "Scan parquet") <= 2,
      "one scan per table — per-column re-scans defeat the single-pass design")
  }

  test("cuped_adjust folds once with no joins; ref_integrity ships keys only") {
    val cp = plan("cuped_adjust")
    assert(cp.contains("partial_"), "the per-user fold must combine map-side")
    assert(!cp.contains("Join"),
      "CUPED is two chained folds — the midpoint is driver metadata, never a join")
    val ri = plan("ref_integrity")
    assert(ri.contains("partial_"))
    assert(!ri.contains("l_extendedprice") && !ri.contains("o_totalprice"),
      "FK rules must shuffle keys only, never payloads")
  }

  test("AQE splits a planted skewed join partition at runtime") {
    // the skew story the engine leans on at 100 TB (beyond manual
    // salting, join_salted): AQE detects the oversized post-shuffle
    // partition and splits it across tasks. Cluster thresholds never
    // fire at fixture scale, so a dedicated session lowers them and
    // asserts the split actually happens on a planted 50k-row hot key.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val big = (0 until 60000)
      .map(i => (if (i < 50000) 0L else i.toLong, s"payload_padding_$i"))
      .toDF("k", "v")
    val dim = (0L until 60000L).map(k => (k, k * 2)).toDF("k", "w")
    val joined = big.join(dim, "k")
    // drive THIS DataFrame's execution (count() would plan its own
    // query and leave joined's adaptive plan unfinalized)
    assert(joined.collect().length == 60000)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin(skew=true)") && p.contains("AQEShuffleRead skewed"),
      s"AQE did not mark the skew split:\n${p.linesIterator.take(40).mkString("\n")}")
  }
}
