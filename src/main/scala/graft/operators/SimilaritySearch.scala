package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedDataset
import graft.functions.VectorFunctions.cosine_sim
import graft.sources.Tables

/** Search slice of [[Similarity]].
  *
  * Search tiers and evaluation: exact brute-force cosine / MIPS
  * top-k baselines, LSH (random hyperplanes, banded tables), IVF
  * (Lloyd-seeded coarse quantizer, multi-probe), filtered and
  * radius variants, MMR / rank fusion / coreset selection, recall
  * and MRR evaluation, and the NN-descent neighbor-graph builder.
  *
  * Mixin slice (r13 verdict item 3, same technique as the Relational
  * split): themed trait files mixed back into the single
  * `object Similarity`, preserving member initialization order and
  * every bare-name cross-reference. Bare `private` members widen to
  * `private[operators]` so cross-slice references keep resolving.
  */
private[operators] trait SimilaritySearch extends Serializable { this: Similarity.type =>


  private[operators] val K = 5
  private[operators] val NQueries = 10

  /** Brute-force exact cosine top-k — the ANN recall baseline: |Q|
    * broadcast query vectors scored against every row, rank-limited
    * per query (the ground truth the IVF/LSH/PQ variants are gated
    * against). */
  def annTopkBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", cosine_sim(col("qe"), col("ne")))
    Refine.topK(scored, Seq("qid"), ByCos, K, "rnk", longRank = true)
      .select(col("qid"), col("rnk"), col("nid"), round(col("cos"), 4).as("cos"))
  }

  /** The (cos desc, nid asc) neighbour order of the cosine top-k keeps. */
  private[operators] val ByCos: Seq[Column] = Seq(col("cos").desc, col("nid").asc)

  /** FILTERED vector search — the production retrieval mode every
    * vector store ships (metadata predicate + similarity, "nearest
    * passages from THIS shard/tenant/class"): per query, exact cosine
    * top-[[K]] among corpus vectors sharing the QUERY's OWN label, so
    * the predicate varies per query (the hard case — a global filter
    * would just be a smaller corpus). Post-filtering an unfiltered
    * top-k is WRONG at low selectivity (k survivors may not exist);
    * the filter belongs INSIDE candidate generation — here it rides
    * the broadcast-join condition, and in the IVF/LSH upgrades the
    * same predicate applies to the candidate lists before scoring.
    * Scale shape: the [[annTopkBrute]] orientation — |Q| queries
    * broadcast against the corpus scan, the label equality prunes
    * before any scoring, rank-limit per query. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame =
    labelScopedTopK(spark, dir, _ === _)

  /** Exact cosine top-[[K]] per query among corpus vectors whose label
    * stands in `labelPred` (neighbour label, query label) to the
    * query's — the body of [[annFiltered]] (`===`) and
    * [[hardNegatives]] (`=!=`). */
  private def labelScopedTopK(spark: SparkSession, dir: String,
      labelPred: (Column, Column) => Column): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("label").cast("long").as("qlabel"),
        col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("nid"), col("label").as("nlabel"),
      col("embedding").as("ne"))
    val scored = c.join(broadcast(q),
        col("qid") =!= col("nid") && labelPred(col("nlabel"), col("qlabel")))
      .withColumn("cos", cosine_sim(col("qe"), col("ne")))
    Refine.topK(scored, Seq("qid"), ByCos, K, "rnk", longRank = true)
      .select(col("qid"), col("qlabel").as("label"), col("rnk"), col("nid"),
        round(col("cos"), 4).as("cos"))
  }

  private[operators] def annFilteredSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS qlabel,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
       |           FROM embeddings WHERE vec_id < $NQueries),
       |c AS (SELECT vec_id AS nid, label AS nlabel,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ne
       |      FROM embeddings),
       |s AS (SELECT qid, qlabel, nid, list_cosine_similarity(qe, ne) AS cos
       |      FROM q, c WHERE qid <> nid AND nlabel = qlabel),
       |r AS (SELECT qid, qlabel, nid, cos,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
       |      FROM s)
       |SELECT qid, qlabel AS label, CAST(rnk AS BIGINT) AS rnk, nid, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $K""".stripMargin

  /** HARD-NEGATIVE mining — the other half of contrastive training
    * data next to [[annFiltered]]'s positives: per query, the exact
    * cosine top-[[K]] among vectors of a DIFFERENT label — the
    * near-miss impostors a metric-learning loss needs (random
    * negatives are trivially far; the informative ones sit just
    * across the class boundary). Same |Q|-broadcast orientation as
    * [[annTopkBrute]]; the label inequality leaves no equi-key, so
    * the probe is the allowlisted tiny-broadcast BNLJ class. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    labelScopedTopK(spark, dir, _ =!= _)

  private[operators] def hardNegativesSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS qlabel,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
       |           FROM embeddings WHERE vec_id < $NQueries),
       |c AS (SELECT vec_id AS nid, label AS nlabel,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ne
       |      FROM embeddings),
       |s AS (SELECT qid, qlabel, nid, list_cosine_similarity(qe, ne) AS cos
       |      FROM q, c WHERE qid <> nid AND nlabel <> qlabel),
       |r AS (SELECT qid, qlabel, nid, cos,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
       |      FROM s)
       |SELECT qid, qlabel AS label, CAST(rnk AS BIGINT) AS rnk, nid, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $K""".stripMargin

  private[operators] val MmrPool = 8
  private[operators] val MmrK = 3

  /** Maximal-marginal-relevance diversified top-k (Carbonell–Goldstein
    * 1998) — the retrieval DIVERSIFICATION primitive between search and
    * selection: a plain top-k returns near-duplicates of the best hit;
    * MMR greedily picks argmax of λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s),
    * trading relevance against redundancy to what's already picked —
    * the shape RAG context assembly and few-shot example selection
    * need. λ = 1/2 makes the objective the pure integer rel − maxsel
    * on the 2⁻²⁰ lattice (exact [[mipsTopk]] dots — no float ordering
    * contract), ties → lowest nid; round 1 is argmax rel with
    * max_sel_sim ≡ 0. Scale shape: the ONE corpus-scale stage is the
    * [[annTopkBrute]]-oriented pool cut (|Q| broadcast queries, per-
    * query top-[[MmrPool]] rides WindowGroupLimit); each query's pool
    * then gathers into one row on the cut's own qid partitioning and
    * [[mmrPicks]] runs the greedy rounds over it, so the plan is the
    * same for any [[MmrK]] and the work past the cut is O(|Q|·P²·d). */
  def mmrSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), latArrCol(col("embedding")).as("qq"))
    val c = e.select(col("vec_id").as("nid"), latArrCol(col("embedding")).as("nq"))
    val qdot = aggregate(zip_with(col("qq"), col("nq"), (x, y) => x * y),
      lit(0L), (a, x) => a + x)
    Refine.topK(c.join(broadcast(q), col("qid") =!= col("nid"))
        .withColumn("dot", qdot), Seq("qid"), ByDot, MmrPool, "rnk", longRank = false)
      .groupBy(col("qid"))
      .agg(collect_list(struct(col("nid"), col("nq"), col("dot"))).as("pool"))
      .flatMap { r =>
        val pool = r.getSeq[Row](1).map(p => (p.getLong(0), p.getSeq[Long](1).toArray, p.getLong(2)))
        mmrPicks(pool, MmrK).map { case (pick, nid, rel, ms) => (r.getLong(0), nid, pick, rel, ms) }
      }
      .toDF("qid", "nid", "pick", "rel", "max_sel_sim")
  }

  /** [[mmrSelect]]'s greedy over one query's (nid, lattice vector,
    * rel) pool: min(k, pool size) rounds of (pick, nid, rel,
    * max_sel_sim). Exact longs throw on overflow, as ANSI Spark does. */
  private[operators] def mmrPicks(pool: Seq[(Long, Array[Long], Long)],
      k: Int): Seq[(Long, Long, Long, Long)] = {
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.foldLeft(0L)((s, i) => Math.addExact(s, Math.multiplyExact(a(i), b(i))))
    val rounds = math.min(k, pool.size)
    val maxSel = Array.fill(pool.size)(0L)
    var left = pool.indices.toList
    (1 to rounds).map { r =>
      val best = left.map(i => (i, Math.subtractExact(pool(i)._3, maxSel(i)))).reduce((a, b) =>
        if (a._2 > b._2 || a._2 == b._2 && pool(a._1)._1 < pool(b._1)._1) a else b)._1
      left = left.filter(_ != best)
      if (r < rounds) left.foreach { i =>
        val sim = dot(pool(i)._2, pool(best)._2)
        maxSel(i) = if (r == 1) sim else math.max(maxSel(i), sim)
      }
      (r.toLong, pool(best)._1, pool(best)._3, maxSel(best))
    }
  }

  private[operators] def mmrSelectSql: String =
    s"""WITH l AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |qs AS (SELECT vec_id AS qid, q AS qq FROM l WHERE vec_id < $NQueries),
       |dd AS (SELECT unnest(range($Dim)) AS i),
       |sc AS (SELECT qs.qid, l.vec_id AS nid,
       |         CAST(sum(qs.qq[dd.i + 1] * l.q[dd.i + 1]) AS BIGINT) AS dot
       |       FROM qs JOIN l ON l.vec_id <> qs.qid CROSS JOIN dd
       |       GROUP BY 1, 2),
       |pool AS MATERIALIZED (
       |  SELECT qid, nid, dot AS rel
       |  FROM (SELECT qid, nid, dot,
       |          row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid ASC) AS rnk
       |        FROM sc) t
       |  WHERE rnk <= $MmrPool),
       |pairs AS MATERIALIZED (
       |  SELECT a.qid, a.nid AS aid, b.nid AS bid,
       |    CAST(sum(la.q[dd.i + 1] * lb.q[dd.i + 1]) AS BIGINT) AS sim
       |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.nid <> b.nid
       |  JOIN l la ON la.vec_id = a.nid JOIN l lb ON lb.vec_id = b.nid
       |  CROSS JOIN dd GROUP BY 1, 2, 3),
       |s1 AS MATERIALIZED (
       |  SELECT qid, nid, 1 AS pick, rel, 0 AS max_sel_sim
       |  FROM (SELECT qid, nid, rel,
       |          row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid ASC) AS rk
       |        FROM pool) t
       |  WHERE rk = 1),
       |s2 AS MATERIALIZED (
       |  SELECT qid, nid, 2 AS pick, rel, max_sel_sim FROM (
       |    SELECT p.qid, p.nid, p.rel, m.max_sel_sim,
       |      row_number() OVER (PARTITION BY p.qid
       |        ORDER BY p.rel - m.max_sel_sim DESC, p.nid ASC) AS rk
       |    FROM pool p
       |    JOIN (SELECT pr.qid, pr.aid, max(pr.sim) AS max_sel_sim
       |          FROM pairs pr JOIN s1 ON s1.qid = pr.qid AND s1.nid = pr.bid
       |          GROUP BY 1, 2) m ON m.qid = p.qid AND m.aid = p.nid
       |    WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.qid = p.qid AND s1.nid = p.nid)
       |  ) t WHERE rk = 1),
       |s12 AS (SELECT qid, nid FROM s1 UNION ALL SELECT qid, nid FROM s2),
       |s3 AS (
       |  SELECT qid, nid, 3 AS pick, rel, max_sel_sim FROM (
       |    SELECT p.qid, p.nid, p.rel, m.max_sel_sim,
       |      row_number() OVER (PARTITION BY p.qid
       |        ORDER BY p.rel - m.max_sel_sim DESC, p.nid ASC) AS rk
       |    FROM pool p
       |    JOIN (SELECT pr.qid, pr.aid, max(pr.sim) AS max_sel_sim
       |          FROM pairs pr JOIN s12 ON s12.qid = pr.qid AND s12.nid = pr.bid
       |          GROUP BY 1, 2) m ON m.qid = p.qid AND m.aid = p.nid
       |    WHERE NOT EXISTS (SELECT 1 FROM s12 WHERE s12.qid = p.qid AND s12.nid = p.nid)
       |  ) t WHERE rk = 1)
       |SELECT qid, CAST(pick AS BIGINT) AS pick, nid, rel,
       |  CAST(max_sel_sim AS BIGINT) AS max_sel_sim
       |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
       |      UNION ALL SELECT * FROM s3) u""".stripMargin

  private[operators] val MrlDims = 16

  /** Matryoshka truncation audit (Kusupati et al. 2022, MRL) — "how
    * much retrieval quality survives keeping only the FIRST
    * [[MrlDims]] of [[Dim]] dimensions": per query, exact lattice-dot
    * top-[[K]] under the full vector vs under the prefix slice, and
    * the overlap as recall_q on the 2²⁰ lattice. This is the
    * measurement an embedding pipeline runs before shipping truncated
    * vectors as a cheap first-stage filter (4× bandwidth cut here) —
    * the storage-tier sibling of [[embedQuantize]]/[[embedPq]]'s
    * precision cuts, evaluated the ann_recall way. NOTE: the fixture
    * embeddings are NOT MRL-trained, so low prefix recall is the
    * expected (and informative) reading — the op measures, the
    * training regime decides. Scale shape: both rankings are the
    * [[annTopkBrute]]-oriented |Q|-broadcast probes (allowlisted
    * BNLJ), rank-limit pushdown per query; the overlap join and the
    * per-query fold are |Q|·K-sized. */
  def mrlTruncate(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    def ranked(dims: Int): DataFrame = {
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"),
          slice(latArrCol(col("embedding")), 1, dims).as("qq"))
      val c = e.select(col("vec_id").as("nid"),
        slice(latArrCol(col("embedding")), 1, dims).as("nq"))
      val dot = aggregate(zip_with(col("qq"), col("nq"), (x, y) => x * y),
        lit(0L), (a, x) => a + x)
      Refine.topK(c.join(broadcast(q), col("qid") =!= col("nid")).withColumn("dot", dot),
          Seq("qid"), ByDot, K, "rnk", longRank = false)
        .select(col("qid"), col("nid"))
    }
    val full = ranked(Dim)
    val prefix = ranked(MrlDims)
    val overlap = full.join(prefix, Seq("qid", "nid"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
    full.groupBy(col("qid")).agg(count(lit(1)).as("n_full"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), col("n_full"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_q",
        expr("cast((n_overlap * 1048576) div n_full as bigint)"))
  }

  private[operators] def mrlTruncateSql: String =
    s"""WITH l AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |qs AS (SELECT vec_id AS qid, q AS qq FROM l WHERE vec_id < $NQueries),
       |ddf AS (SELECT unnest(range($Dim)) AS i),
       |ddp AS (SELECT unnest(range($MrlDims)) AS i),
       |full_r AS (
       |  SELECT qid, nid FROM (
       |    SELECT qs.qid, l.vec_id AS nid,
       |      row_number() OVER (PARTITION BY qs.qid
       |        ORDER BY sum(qs.qq[ddf.i + 1] * l.q[ddf.i + 1]) DESC, l.vec_id ASC) AS rnk
       |    FROM qs JOIN l ON l.vec_id <> qs.qid CROSS JOIN ddf
       |    GROUP BY qs.qid, l.vec_id) t WHERE rnk <= $K),
       |pre_r AS (
       |  SELECT qid, nid FROM (
       |    SELECT qs.qid, l.vec_id AS nid,
       |      row_number() OVER (PARTITION BY qs.qid
       |        ORDER BY sum(qs.qq[ddp.i + 1] * l.q[ddp.i + 1]) DESC, l.vec_id ASC) AS rnk
       |    FROM qs JOIN l ON l.vec_id <> qs.qid CROSS JOIN ddp
       |    GROUP BY qs.qid, l.vec_id) t WHERE rnk <= $K),
       |ov AS (SELECT f.qid, count(*) AS n_overlap
       |       FROM full_r f JOIN pre_r p ON p.qid = f.qid AND p.nid = f.nid
       |       GROUP BY f.qid)
       |SELECT f.qid, count(*) AS n_full,
       |  coalesce(max(ov.n_overlap), 0) AS n_overlap,
       |  CAST((coalesce(max(ov.n_overlap), 0) * 1048576) // count(*) AS BIGINT) AS recall_q
       |FROM full_r f LEFT JOIN ov ON ov.qid = f.qid
       |GROUP BY f.qid""".stripMargin

  private[operators] val KCenters = 5

  /** k-center coreset selection by farthest-point traversal (Gonzalez
    * 1985, the 2-approximation) — the DATA-SELECTION primitive a
    * training pipeline runs to pick a maximally-covering subset
    * (active-learning seeds, eval-set anchors, diversity sampling):
    * seed = the smallest vec_id, then [[KCenters]]−1 rounds of "pick
    * the vector farthest (exact lattice L2², ties → lowest id) from
    * everything picked so far". radius2 of pick r is its distance² to
    * the previous centers — the (r−1)-center cover radius, so the
    * column is non-increasing from pick 2 on (a theorem the spec
    * executes). The greedy is [[mmrSelect]]'s max-min dual: MMR
    * diversifies a per-query shortlist, k-center covers the corpus.
    * Scale shape: the lattice scan persists once; each round is one
    * scan-resident distance expression (the new center rides as an
    * array LITERAL — the pca_project rule) + a rank-1 TakeOrdered
    * (ONE driver row per round, the graph_diameter pattern). Bounded
    * rounds, zero joins, no all-pairs anywhere; the returned frame is
    * a LocalTableScan. */
  def coresetKcenter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lat = Tables.embeddings(spark, dir)
      .select(col("vec_id"), latArrCol(col("embedding")).as("q"))
      .persistScoped()
    val seed = lat.orderBy(col("vec_id").asc).limit(1).collect()
    if (seed.isEmpty)
      return Seq.empty[(Long, Long, Long)].toDF("pick", "vec_id", "radius2")
    def dist2To(center: Array[Long]): Column =
      aggregate(zip_with(col("q"), typedlit(center.toSeq), (x, y) => (x - y) * (x - y)),
        lit(0L), (a, x) => a + x)
    var picks = List((1L, seed(0).getLong(0), 0L))
    var dcol: Column = dist2To(seed(0).getSeq[Long](1).toArray)
    for (r <- 2 to KCenters) {
      val far = lat.withColumn("d", dcol)
        .filter(!col("vec_id").isInCollection(picks.map(_._2)))
        .orderBy(col("d").desc, col("vec_id").asc).limit(1).collect()
      if (far.nonEmpty) {
        picks = picks :+ ((r.toLong, far(0).getLong(0), far(0).getLong(2)))
        dcol = least(dcol, dist2To(far(0).getSeq[Long](1).toArray))
      }
    }
    picks.toDF("pick", "vec_id", "radius2")
  }

  private[operators] def coresetSql: String = {
    val latCte =
      s"""l AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |dd AS (SELECT unnest(range($Dim)) AS i),
         |c1 AS MATERIALIZED (SELECT vec_id, q FROM l ORDER BY vec_id ASC LIMIT 1),
         |s1 AS (SELECT vec_id FROM c1),
         |d1 AS MATERIALIZED (
         |  SELECT l.vec_id,
         |    CAST(sum((l.q[dd.i + 1] - c.q[dd.i + 1]) * (l.q[dd.i + 1] - c.q[dd.i + 1])) AS BIGINT) AS d
         |  FROM l CROSS JOIN c1 c CROSS JOIN dd GROUP BY l.vec_id)""".stripMargin
    val rounds = Rounds.cteChain(KCenters - 1) { r =>
      val k = r + 1
      val pick =
        s"""p$k AS MATERIALIZED (
           |  SELECT vec_id, d FROM d${k - 1}
           |  WHERE vec_id NOT IN (SELECT vec_id FROM s${k - 1})
           |  ORDER BY d DESC, vec_id ASC LIMIT 1),
           |s$k AS (SELECT vec_id FROM s${k - 1} UNION ALL SELECT vec_id FROM p$k)""".stripMargin
      val refine = if (k == KCenters) "" else
        s""",
           |nd$k AS MATERIALIZED (
           |  SELECT l.vec_id,
           |    CAST(sum((l.q[dd.i + 1] - c.q[dd.i + 1]) * (l.q[dd.i + 1] - c.q[dd.i + 1])) AS BIGINT) AS d
           |  FROM l CROSS JOIN (SELECT l2.q FROM l l2 JOIN p$k ON l2.vec_id = p$k.vec_id) c
           |  CROSS JOIN dd GROUP BY l.vec_id),
           |d$k AS MATERIALIZED (
           |  SELECT d${k - 1}.vec_id, least(d${k - 1}.d, nd$k.d) AS d
           |  FROM d${k - 1} JOIN nd$k USING (vec_id))""".stripMargin
      pick + refine
    }
    val tail = (2 to KCenters)
      .map(k => s"SELECT CAST($k AS BIGINT) AS pick, vec_id, d AS radius2 FROM p$k")
      .mkString("\nUNION ALL ")
    s"""WITH $latCte,
       |$rounds
       |SELECT CAST(1 AS BIGINT) AS pick, vec_id, CAST(0 AS BIGINT) AS radius2 FROM c1
       |UNION ALL $tail""".stripMargin
  }

  /** Mean-centering audit of the embedding corpus — the anisotropy
    * fix applied BEFORE [[pcaPower]]/whitening in most embedding
    * pipelines (a large common-mean component makes every cosine
    * look alike; centering removes it): per-dimension lattice means
    * (Σq_d div n — 64 driver-metadata longs, the pca_project
    * precedent) embed as literals, and every vector reports its
    * exact integral norm² before and after centering — the
    * corpus-level gap between the two IS the mean component's mass.
    * Scale shape: one 64-row partial+final fold for the means, then
    * a scan-resident narrow map; no joins, no keyed exchange in the
    * transform. */
  def embedCenter(spark: SparkSession, dir: String): DataFrame = {
    val means: Array[Long] = Tables.embeddings(spark, dir)
      .select(posexplode(latArrCol(col("embedding"))))
      .groupBy(col("pos")).agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1) / r.getLong(2)))
      .sortBy(_._1).map(_._2)
    val raw = (0 until Dim)
      .map(i => element_at(col("q"), i + 1) * element_at(col("q"), i + 1))
      .reduce(_ + _)
    val centered = (0 until Dim)
      .map { i =>
        val dlt = element_at(col("q"), i + 1) - lit(means(i))
        dlt * dlt
      }
      .reduce(_ + _)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), latArrCol(col("embedding")).as("q"))
      .select(col("vec_id"), raw.as("norm2_raw"), centered.as("norm2_centered"))
  }

  private[operators] def embedCenterSql: String =
    s"""WITH e AS (SELECT vec_id,
       |             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)) AS q
       |           FROM embeddings),
       |m AS (SELECT t.i AS i,
       |        CAST(CAST(sum(q[t.i]) AS HUGEINT) // count(*) AS BIGINT) AS mq
       |      FROM e CROSS JOIN range(1, ${Dim + 1}) t(i) GROUP BY 1)
       |SELECT e.vec_id,
       |  CAST(sum(q[m.i] * q[m.i]) AS BIGINT) AS norm2_raw,
       |  CAST(sum((q[m.i] - m.mq) * (q[m.i] - m.mq)) AS BIGINT) AS norm2_centered
       |FROM e CROSS JOIN m GROUP BY e.vec_id""".stripMargin

  /** Exact max-inner-product top-k (MIPS) — the retrieval objective
    * recommendation/retrieval towers actually rank by (un-normalized
    * dot, not cosine: magnitude is signal). Both sides quantize to
    * the 2⁻²⁰ lattice and the dot is a 64-term BIGINT sum — exact and
    * hash-comparable, no float rounding contract needed. Scale shape:
    * |Q| query vectors broadcast against the corpus scan (the
    * [[annTopkBrute]] orientation), rank-limit pushdown per query;
    * the LSH/IVF machinery upgrades it to sub-linear exactly as for
    * cosine when |Q|·N stops being scannable. */
  def mipsTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), latArrCol(col("embedding")).as("qq"))
    val c = e.select(col("vec_id").as("nid"), latArrCol(col("embedding")).as("nq"))
    val dot = aggregate(zip_with(col("qq"), col("nq"), (x, y) => x * y),
      lit(0L), (a, x) => a + x)
    Refine.topK(c.join(broadcast(q), col("qid") =!= col("nid")).withColumn("dot", dot),
        Seq("qid"), ByDot, K, "rnk", longRank = true)
      .select(col("qid"), col("rnk"), col("nid"), col("dot"))
  }

  /** The (dot desc, nid asc) order of the lattice inner-product keeps. */
  private[operators] val ByDot: Seq[Column] = Seq(col("dot").desc, col("nid").asc)

  // -- deterministic random hyperplanes (SplitMix64, fixed seed) -----

  private[operators] val NTables = 16
  private[operators] val BitsPerTable = 6
  private[operators] val Dim = 64

  private[operators] def splitmix64(seed: Long): Iterator[Long] =
    Iterator.iterate(seed) { s => s + 0x9E3779B97F4A7C15L }.drop(1).map { z0 =>
      var z = z0
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }

  /** nPlanes hyperplanes of ±1 entries from the fixed-seed SplitMix64
    * stream. Different (tables × bits) operating points draw from the
    * same stream, so key schemes are stable per configuration. */
  private[operators] def makePlanes(nPlanes: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rng = splitmix64(seed)
    Array.fill(nPlanes)(
      Array.fill(Dim)(if ((rng.next() & 1L) == 0L) 1.0f else -1.0f))
  }

  /** Per-table sign-bucket keys over an arbitrary plane set: element t
    * packs `bits` sign bits of the dots with that table's hyperplanes.
    * Short keys + many tables is the right operating point for
    * mid-similarity neighbors (cos ≈ 0.5 ⇒ P(bit agree) ≈ 0.67 ⇒
    * P(6-bit key match) ≈ 0.09/table, ≈ 0.78 over 16 tables); for
    * true near-dups (cos ≥ 0.9) the same scheme is effectively
    * lossless.
    *
    * Computed in a typed closure, not N literal-array expressions: a
    * Column formulation embeds every hyperplane in the plan, and the
    * resulting analyzer/codegen cost dwarfed the arithmetic. Double
    * accumulation in index order keeps buckets bit-stable. */
  private[operators] def signKeys(
      emb: Array[Float], ps: Array[Array[Float]], nTables: Int, bits: Int): Array[Int] = {
    val keys = new Array[Int](nTables)
    var t = 0
    while (t < nTables) {
      var key = 0
      var j = 0
      while (j < bits) {
        val p = ps(t * bits + j)
        var dot = 0.0
        var i = 0
        while (i < p.length && i < emb.length) { dot += emb(i).toDouble * p(i).toDouble; i += 1 }
        if (dot >= 0) key |= (1 << j)
        j += 1
      }
      keys(t) = key
      t += 1
    }
    keys
  }

  /** The (vec_id, table_idx, table_key) sign-bucket frame of an
    * (vec_id, embedding) relation at a (tables × bits) operating
    * point — the input of the ring-bounded sign-LSH candidates
    * ([[Refine.ringPairs]]); the ANN family uses [[NTables]] ×
    * [[BitsPerTable]]. */
  private[operators] def embeddingTaggedOf(
      emb: DataFrame, nTables: Int, bits: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val ps = makePlanes(nTables * bits)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { r =>
        signKeys(r._2, ps, nTables, bits)
          .iterator.zipWithIndex.map { case (k, t) => (r._1, t, k) }
      }
      .toDF("vec_id", "table_idx", "table_key")
  }

  /** The (vec_id, table_keys, table_idx, table_key) frame of the same
    * keys: one row per table, each carrying the vector's whole key
    * array, as [[Refine.bucketPairs]] needs for pair ownership. */
  private[operators] def embeddingKeyedOf(
      emb: DataFrame, nTables: Int, bits: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val ps = makePlanes(nTables * bits)
    Refine.bucketRows(emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map(r => (r._1, signKeys(r._2, ps, nTables, bits)))
      .toDF("vec_id", "table_keys"), SignBucket)
  }

  /** The bucket columns of [[embeddingKeyedOf]], for [[Refine.bucketPairs]]. */
  private[operators] val SignBucket = ("table_idx", "table_key", "table_keys")

  /** LSH-bucketed ANN: candidates are vectors sharing ≥1 of 16 table
    * keys with the broadcast query set ([[Refine.bucketPairs]]),
    * scored exactly, top-k per query; vectors attach only to the
    * surviving candidates. Recall vs. the brute-force truth is
    * asserted in PipelineOpsSpec on the fixed-seed fixtures. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val keyed = embeddingKeyedOf(e, NTables, BitsPerTable)
    val candPairs = Refine.bucketPairs(keyed,
        broadcast(keyed.filter(col("vec_id") < NQueries)), SignBucket, "vec_id",
        Some(_ =!= _))((c, q) => Seq(q.as("qid"), c.as("nid")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = candPairs
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
      .join(broadcast(q), "qid")
      .withColumn("cos", cosine_sim(col("qe"), col("ne")))
    Refine.topK(scored, Seq("qid"), ByCos, K, "rnk", longRank = true)
      .select(col("qid"), col("rnk"), col("nid"), round(col("cos"), 4).as("cos"))
  }

  // -- IVF-flat: coarse quantizer + nprobe ---------------------------

  private[operators] val NCells = 16
  private[operators] val NProbe = 8 // r8 shipped 6 (sf0.1 recall 0.64); 8 holds ≥0.7 at every swept SF
  private[operators] val LloydRounds = 1

  /** Offset of the sampled-point seed window above the corpus'
    * SMALLEST vec_id — r15 (VERDICT r14 item 5): the seed slice is
    * corpus-RELATIVE (min(vec_id) + offset), not a literal id range,
    * and this one constant is shared by the engine ([[seedCentroidsFrom]],
    * `SimilarityPqIndex.pqSeedCodebookFrom`) and the oracle replays
    * (`Similarity.seedWindowSql`), so both derive the identical slice
    * on any corpus. The offset preserves the shipped fixtures' slice
    * bit-for-bit (their min(vec_id) is 0), keeping all eight
    * quantizer-sharing ops hash-stable. */
  private[operators] val SeedBaseOffset = 100L

  /** Corpus-derived base of the seed window, or None on an empty
    * corpus (callers return empty seeds — the pre-r15 behavior). One
    * scalar min() to the driver — the pagerank-N metadata class. */
  private[operators] def seedWindowBase(spark: SparkSession, dir: String): Option[Long] = {
    val r = Tables.embeddings(spark, dir).agg(min(col("vec_id"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0) + SeedBaseOffset)
  }

  /** Deterministic SEED centroids: a fixed corpus-relative slice
    * (vec_id ∈ [base, base+NCells), base = min(vec_id) +
    * [[SeedBaseOffset]]) — sampled-point initialization, the k-means
    * analogue of a fixed seed. `base` comes from [[seedWindowBase]],
    * resolved by the caller: callers that train BOTH the coarse
    * quantizer and the PQ codebook (ann_index build, ann_ivfpq)
    * resolve the corpus min once instead of paying the full-scan
    * `min(vec_id)` job per trained artifact (r19: the two jobs
    * computed the identical scalar). */
  private[operators] def seedCentroidsFrom(spark: SparkSession, dir: String,
      base: Option[Long]): Array[(Int, Array[Double])] =
    base match {
      case None => Array.empty
      case Some(b) =>
        Tables.embeddings(spark, dir)
          .filter(col("vec_id") >= b && col("vec_id") < (b + NCells))
          .select(col("vec_id"), col("embedding"))
          .collect()
          .sortBy(_.getLong(0))
          .zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Float](1).toArray.map(_.toDouble)) }
    }

  /** Quantization grid for the Lloyd mean update: components are
    * floored onto a 2^-20 lattice BEFORE summing, so the per-cell mean
    * is pure integer arithmetic — exact, order-insensitive, and
    * replayable bit-for-bit by the DuckDB oracle (×2^20 is an exact
    * double op; BIGINT sum is exact; both engines truncate integer
    * division toward zero). */
  private[operators] val QScale = 1048576L // 2^20

  /** LEARNED centroids: [[LloydRounds]] deterministic Lloyd rounds
    * from the seed. Fixed round count (not to-convergence) keeps the
    * operator deterministic-cost and oracle-replayable; at 100 TB you
    * would raise rounds, not change shape — each round is the same
    * single scan + tiny aggregate. */
  private[operators] def learnedCentroids(spark: SparkSession, dir: String,
      trainFilter: Column = lit(true)): Array[(Int, Array[Double])] =
    learnedCentroidsFrom(spark, dir, seedWindowBase(spark, dir), trainFilter)

  /** [[learnedCentroids]] with the seed-window base pre-resolved (see
    * [[seedCentroidsFrom]]). */
  private[operators] def learnedCentroidsFrom(spark: SparkSession, dir: String,
      base: Option[Long], trainFilter: Column = lit(true)): Array[(Int, Array[Double])] =
    (1 to LloydRounds).foldLeft(seedCentroidsFrom(spark, dir, base))((c, _) =>
      lloydRound(spark, dir, c, trainFilter))

  /** ONE deterministic Lloyd round: assignment runs distributed (one
    * narrow pass over the vectors); the per-(cell, dim) integral
    * sums — NCells×Dim rows of driver metadata, like the seed
    * itself — are collected and turned into quantized means; an empty
    * cell keeps its previous centroid. */
  private[operators] def lloydRound(spark: SparkSession, dir: String,
      seed: Array[(Int, Array[Double])],
      trainFilter: Column = lit(true)): Array[(Int, Array[Double])] = {
    import spark.implicits._
    val dim = seed.head._2.length
    // partial sums accumulate INSIDE each partition (one dense
    // cells×dim long array), so the shuffle carries
    // partitions×cells×dim rows instead of vectors×dim — the map-side
    // combine a groupBy over the exploded (cell, d, q) stream would
    // only approximate. Exact long arithmetic ⇒ order-insensitive.
    // Ragged-vector contract (matches the oracle's COALESCE(...,0)
    // inside its sum): a dimension a member vector lacks contributes
    // 0 to the sum while the member still counts in n.
    val sums = Tables.embeddings(spark, dir)
      .filter(trainFilter)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { rows =>
        // sized by the SEED (NCells, or empty on an empty corpus)
        val acc = Array.ofDim[Long](seed.length, dim)
        val cnt = new Array[Long](seed.length)
        rows.foreach { r =>
          val cell = nearestCells(seed, r._2, 1).head
          cnt(cell) += 1L
          var d = 0
          while (d < dim && d < r._2.length) {
            acc(cell)(d) += math.floor(r._2(d).toDouble * QScale).toLong
            d += 1
          }
        }
        for { c <- (0 until NCells).iterator if cnt(c) > 0; d <- (0 until dim).iterator }
          yield (c, d, acc(c)(d), cnt(c))
      }
      .toDF("cell", "d", "pq", "pn")
      .groupBy("cell", "d").agg(sum(col("pq")).as("sq"), sum(col("pn")).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    seed.map { case (cell, sc) =>
      cell -> Array.tabulate(sc.length) { d =>
        sums.get((cell, d)) match {
          case Some((sq, n)) => (sq / n).toDouble / QScale.toDouble // Long div truncates toward zero, same as the oracle's //
          case None          => sc(d)
        }
      }
    }
  }

  private[operators] def cosTo(c: Array[Double], v: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < c.length && i < v.length) {
      val u = c(i); val w = v(i).toDouble
      dot += u * w; na += u * u; nb += w * w; i += 1
    }
    if (na == 0.0 || nb == 0.0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top-`n` nearest cells for a vector (ties → lower cell idx). */
  private[operators] def nearestCells(cents: Array[(Int, Array[Double])], v: Array[Float], n: Int): Seq[Int] =
    cents.map { case (i, c) => (i, cosTo(c, v)) }
      .sortBy { case (i, s) => (-s, i) }.take(n).map(_._1).toSeq

  /** IVF-flat ANN: vectors are assigned to their nearest centroid
    * cell; each query probes its NProbe nearest cells and scores only
    * those cells' members. Complements annLsh: IVF adapts to the data
    * distribution (centroids are one Lloyd round of k-means from a
    * fixed corpus-slice seed — [[learnedCentroids]]) where hyperplane
    * LSH is data-oblivious. Same output shape; recall vs brute force
    * asserted in PipelineOpsSpec at ALL THREE swept SFs (floor 0.7 —
    * measured 0.88/0.80/0.78 at sf0.001/0.01/0.1).
    *
    * Operating point: nprobe = 8 of 16 cells (r8 shipped 6, whose
    * sf0.1 recall of 0.64 sagged below the documented floor — the
    * r8-verdict item this closes). An 8/16 scan fraction is a
    * fixture artifact of the tiny cell count, not the 100 TB shape:
    * recall is governed by the probed FRACTION of a fixed-size probe
    * LIST, so at scale you raise NCells with corpus size (4–16k cells
    * per billion vectors is the IVF norm) and nprobe stays a small
    * constant — same plan, same shuffle shape, scan fraction
    * nprobe/NCells → sub-1%. Chosen over a 2nd Lloyd round, which
    * measured WORSE at equal probe cost (0.72 vs 0.80 at sf0.001)
    * and would double the oracle's replay chain. */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfProbe(spark, dir, NProbe)

  /** Every vector's IVF cell (nearest learned centroid) — the coarse
    * quantizer shared by [[annIvf]] and the cluster-scoped semantic
    * dedup ([[graft.operators.Dedup.dedupSemantic]]). One narrow
    * distributed pass; the centroid array is driver metadata (NCells
    * seed rows), the ann_ivf precedent. */
  private[operators] def cellAssignments(spark: SparkSession, dir: String): DataFrame =
    cellAssignmentsWith(spark, dir, learnedCentroids(spark, dir))

  private[operators] def cellAssignmentsWith(spark: SparkSession, dir: String,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map(r => (r._1, nearestCells(cents, r._2, 1).head))
      .toDF("vec_id", "cell")
  }

  /** The IVF candidate-scoring core shared by [[annIvfProbe]] (top-k)
    * and [[annRadius]] (threshold): fixed query set, nprobe nearest
    * cells per query, exact cosine against the probed cells' members
    * only. Returns (qid, nid, cos) — the consumer applies its own
    * selection. */
  private[operators] def ivfScored(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import spark.implicits._
    val cents = learnedCentroids(spark, dir)
    val e = Tables.embeddings(spark, dir)
    probedCosines(spark, dir, cents, e, e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap(r => nearestCells(cents, r._2, nprobe).map(c => (r._1, c)))
      .toDF("qid", "cell"))
  }

  /** Each query's exact cosine `cos` against the members of the cells
    * `qCells` (qid, cell, …) lists for it, with the other columns of
    * `qCells` riding along. */
  private def probedCosines(spark: SparkSession, dir: String, cents: Array[(Int, Array[Double])],
      e: DataFrame, qCells: DataFrame): DataFrame =
    cellAssignmentsWith(spark, dir, cents).toDF("nid", "cell")
      .join(broadcast(qCells), "cell")
      .filter(col("qid") =!= col("nid"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
      .join(broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))), "qid")
      .withColumn("cos", cosine_sim(col("qe"), col("ne")))

  /** [[annIvf]] with an explicit probe count — the recall/cost dial
    * (PipelineOpsSpec measures the recall curve across settings). */
  private[graft] def annIvfProbe(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    Refine.topK(ivfScored(spark, dir, nprobe), Seq("qid"), ByCos, K, "rnk", longRank = true)
      .select(col("qid"), col("rnk"), col("nid"), round(col("cos"), 4).as("cos"))
  }

  /** Label-FILTERED IVF search — [[annFiltered]]'s production
    * upgrade: the metadata predicate (neighbors sharing the query's
    * label) applies INSIDE the IVF candidate stream — between cell
    * probing and scoring — exactly where a vector store evaluates
    * filters (post-filtering a top-k can come home short; filtering
    * before candidate generation would need one index per predicate
    * value). Same [[NProbe]] pruning, scan fraction, and shuffle
    * shape as [[annIvf]]; the label attaches by an equi-join on the
    * candidate id and the ≤|Q|-row query-label relation broadcasts.
    * Approximate by the IVF contract (matches outside probed cells
    * are unseen); the oracle composes the shared cell replay with
    * the same filter placement. */
  def annFilteredIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val labels = e.select(col("vec_id").as("nid"), col("label").cast("long").as("nlabel"))
    val qLabels = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("label").cast("long").as("qlabel"))
    val scored = ivfScored(spark, dir, NProbe)
      .join(labels, Seq("nid"))
      .join(broadcast(qLabels), Seq("qid"))
      .filter(col("nlabel") === col("qlabel"))
    Refine.topK(scored, Seq("qid"), ByCos, K, "rnk", longRank = true)
      .select(col("qid"), col("qlabel").as("label"), col("rnk"), col("nid"),
        round(col("cos"), 4).as("cos"))
  }

  private[operators] def annFilteredIvfSql: String =
    s"""$IvfCellsSqlPrefix,
       |qcells AS (SELECT vec_id AS qid, cell FROM assign WHERE vec_id < $NQueries AND rk <= $NProbe),
       |s AS (
       |  SELECT q.qid, CAST(gl.label AS BIGINT) AS label, c.nid,
       |    list_cosine_similarity(qe.emb, ne.emb) AS cos
       |  FROM qcells q
       |  JOIN cells c ON q.cell = c.cell AND c.nid <> q.qid
       |  JOIN embeddings nl ON nl.vec_id = c.nid
       |  JOIN embeddings gl ON gl.vec_id = q.qid
       |    AND CAST(nl.label AS BIGINT) = CAST(gl.label AS BIGINT)
       |  JOIN e qe ON qe.vec_id = q.qid JOIN e ne ON ne.vec_id = c.nid),
       |r AS (SELECT qid, label, nid, cos,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
       |      FROM s)
       |SELECT qid, label, CAST(rnk AS BIGINT) AS rnk, nid, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $K""".stripMargin

  /** Recall-vs-probe tuning CURVE of the IVF index — the table an
    * ANN deployment reads before picking nprobe (the single knob
    * trading scan fraction for recall): corpus recall@[[K]] against
    * the exact [[annTopkBrute]] truth at probe ∈ [[ProbeLevels]], on
    * the 2²⁰ lattice. [[annRecall]] pins the SHIPPED operating
    * point; this emits the curve the choice comes from — as a gated
    * operator, because an eval that only lives in a test lab can't
    * be run by a user against their own corpus.
    * Scale shape: the oracle's, one probe plan for every level. The
    * quantizer trains once; each query's widest probe list carries
    * each cell's probe rank prk (nearestCells(_, np) is a prefix of
    * nearestCells(_, 8)). Each candidate's cosine is computed once,
    * then fans out to the levels np ≥ prk; the top-[[K]] keep runs per
    * (np, qid), the level-tagged truth left-joins on (np, qid, nid),
    * and one aggregate by np folds the curve. */
  def ivfProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = learnedCentroids(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val levels = array(ProbeLevels.map(lit): _*)
    val scored = probedCosines(spark, dir, cents, e, e.filter(col("vec_id") < NQueries)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .flatMap(r => nearestCells(cents, r._2, ProbeLevels.max).iterator.zipWithIndex
          .map { case (c, i) => (r._1, c, i + 1) })
        .toDF("qid", "cell", "prk"))
      .select(col("qid"), col("nid"), col("cos"),
        explode(filter(levels, np => np >= col("prk"))).as("np"))
    val ivf = Refine.topK(scored, Seq("np", "qid"), ByCos, K, "rnk", longRank = true)
      .select(col("np"), col("qid"), col("nid"), lit(1L).as("hit"))
    annTopkBrute(spark, dir).select(col("qid"), col("nid"), explode(levels).as("np"))
      .join(ivf, Seq("np", "qid", "nid"), "left")
      .groupBy(col("np"))
      .agg(count(lit(1)).as("k_total"), sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("np").cast("long").as("nprobe"), col("k_total"), col("hits"),
        expr("(hits * 1048576) div k_total").as("recall_q"))
  }

  private[operators] val ProbeLevels = Seq(1, 2, 4, 8)

  private[operators] def ivfProbeCurveSql: String =
    s"""$IvfCellsSqlPrefix,
       |probes(np) AS (VALUES ${ProbeLevels.map(n => s"($n)").mkString(", ")}),
       |qcells AS (SELECT p.np, a.vec_id AS qid, a.cell
       |           FROM assign a CROSS JOIN probes p
       |           WHERE a.vec_id < $NQueries AND a.rk <= p.np),
       |s AS (SELECT q.np, q.qid, c.nid, list_cosine_similarity(qe.emb, ne.emb) AS cos
       |      FROM qcells q JOIN cells c ON q.cell = c.cell AND c.nid <> q.qid
       |      JOIN e qe ON qe.vec_id = q.qid JOIN e ne ON ne.vec_id = c.nid),
       |r AS (SELECT np, qid, nid,
       |        row_number() OVER (PARTITION BY np, qid ORDER BY cos DESC, nid ASC) AS rnk
       |      FROM s),
       |ivf AS (SELECT np, qid, nid FROM r WHERE rnk <= $K),
       |b AS ($annTopkSql)
       |SELECT CAST(p.np AS BIGINT) AS nprobe, count(*) AS k_total,
       |  CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |  CAST((sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) * 1048576)
       |       // count(*) AS BIGINT) AS recall_q
       |FROM probes p CROSS JOIN b
       |LEFT JOIN ivf i ON i.np = p.np AND i.qid = b.qid AND i.nid = b.nid
       |GROUP BY p.np""".stripMargin

  private[operators] val RadiusTau = 0.25

  /** Radius (range) similarity search — ALL neighbors with
    * cos ≥ [[RadiusTau]], not a fixed k: the retrieval mode behind
    * "give me every near-duplicate / every passage above the
    * relevance bar", where result cardinality must follow the data
    * (top-k truncates dense neighborhoods and pads sparse ones).
    * Same IVF pruning as [[annIvf]] — candidates are the [[NProbe]]
    * probed cells' members only, so the scan fraction and shuffle
    * shape are identical to top-k search and the radius test rides
    * the scored stream as a per-row filter (no window at all: unlike
    * top-k, radius selection needs NO per-query sort, which drops
    * the one rank shuffle — strictly cheaper than [[annIvf]] at any
    * scale). Approximate by the same contract (matches outside every
    * probed cell are unseen); τ sits at the fixture's ~99th
    * candidate-cosine percentile so the answer set is the meaningful
    * tail, and the oracle replays cells, probing, and threshold
    * exactly. */
  def annRadius(spark: SparkSession, dir: String): DataFrame =
    ivfScored(spark, dir, NProbe)
      .filter(col("cos") >= RadiusTau)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"))

  /** k-NN CLASSIFICATION over the embedding corpus — leave-one-out
    * majority vote among each vector's [[KnnK]] approximate nearest
    * neighbors ([[knnJoin]]'s LSH-candidate graph), judged against
    * the fixture's ground-truth `label` column: the standard
    * embedding-quality eval (kNN accuracy) a representation pipeline
    * reports, and the first consumer of `label` as a LEARNING target
    * rather than metadata. Vote ties break (count desc, label asc) —
    * the label_prop rule — so every engine picks the same class.
    * Output carries true label, predicted label, vote count, and the
    * correctness flag; accuracy is one aggregation away. (On this
    * synthetic fixture the labels carry no embedding signal —
    * measured accuracy 0.11 ≈ the 1/|classes| chance floor, which is
    * itself the correct reading: the operator is the measurement,
    * not the model.)
    *
    * Scale shape: everything downstream of the neighbor graph is
    * O(n·k) rows — a label join on the neighbor key, a partial+final
    * vote count, a rank-limit pick, and a join back to the
    * ground-truth labels on the SAME qid key. */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = knnJoin(spark, dir)
      .join(labels.select(col("vec_id").as("nid"), col("label").as("nlabel")), "nid")
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("qid")).orderBy(col("n").desc, col("nlabel").asc)
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nlabel").as("pred_label"), col("n").as("n_votes"))
      .join(labels.select(col("vec_id").as("qid"), col("label").as("true_label")), "qid")
      .select(col("qid"), col("true_label"), col("pred_label"), col("n_votes"),
        (col("true_label") === col("pred_label")).cast("long").as("correct"))
  }

  /** Recall@K of the learned IVF index against the exact cosine
    * ranking — the eval an ANN deployment runs after every retrain/
    * probe-count change, AS a gated operator rather than a test-only
    * lab ([[ivfProbeCurve]] emits the curve; this row pins the
    * shipped operating point cross-engine). Per query: K, how many of the
    * exact top-K the index returned, and recall on the 2²⁰ lattice.
    * Both inputs are the registry's own gated operators, so the eval
    * can never drift from what it rates. Scale shape: both rankings
    * are rank-limited per query before the |Q|·K-row join —
    * everything after the retrievals is metadata. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = annTopkBrute(spark, dir).select(col("qid"), col("nid"))
    val ivf = annIvf(spark, dir).select(col("qid"), col("nid"), lit(1L).as("hit"))
    brute.join(ivf, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("qid"), col("k"), col("hits"),
        expr("(hits * 1048576) div k").as("recall_q"))
  }

  /** Mean-reciprocal-rank eval of exact cosine retrieval against the
    * label ground truth — the rank-AWARE retrieval metric beside
    * [[annRecall]]'s set-overlap recall@K ("not just DID a relevant
    * neighbor surface, but how far down the list"): per query, the
    * first rank within depth [[MrrDepth]] whose neighbor shares the
    * query's label, rr_q = 2²⁰ div first_rank (0 when no relevant
    * neighbor surfaces — the standard MRR@depth convention); corpus
    * MRR is one mean away. Reciprocal ranks are why MRR — like
    * [[rankFusion]]'s RRF — is exact on the integer lattice where
    * score-based metrics are not. Scale shape: the [[annTopkBrute]]
    * orientation (|Q| broadcast queries, vectors never shuffle,
    * rank-limit pushed at depth [[MrrDepth]]), then an O(|Q|·depth)
    * label filter + min-rank fold + one |Q|-row join back. */
  def mrrEval(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("label").cast("long").as("qlabel"),
        col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("nid"), col("label").cast("long").as("nlabel"),
      col("embedding").as("ne"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", cosine_sim(col("qe"), col("ne")))
    val first = Refine.topK(scored, Seq("qid"), ByCos, MrrDepth, "rnk", longRank = true)
      .filter(col("nlabel") === col("qlabel"))
      .groupBy(col("qid")).agg(min(col("rnk")).as("first_rank"))
    q.select(col("qid"), col("qlabel").as("label"))
      .join(first, Seq("qid"), "left")
      .select(col("qid"), col("label"),
        coalesce(col("first_rank"), lit(0L)).as("first_rank"),
        coalesce(expr("1048576 div first_rank"), lit(0L)).as("rr_q"))
  }

  private[operators] val MrrDepth = 50

  /** Two-NN ratio distribution (Facco et al. 2017's intrinsic-
    * dimension estimator input) — the manifold-health probe an
    * embedding pipeline runs before trusting ANN/clustering
    * structure: per vector the ratio μ = d₂/d₁ of its two nearest
    * neighbors (squared lattice-L2, the knn_margin arithmetic);
    * concentrated-near-1 ratios mean high intrinsic dimension
    * (distances losing meaning), a fat tail means low-dimensional
    * structure worth exploiting. Emitted as the 10-bucket histogram
    * of the ratio EXCESS (μ_q − 2²⁰ capped at +2.0, width 0.2 on the
    * lattice) — the estimator's sufficient statistic without the
    * irrational log fit. Vectors whose nearest candidate is an exact
    * lattice duplicate (d₁ = 0) drop — their ratio is undefined and
    * dedup owns them. Neighbors come from the SAME fixed-seed LSH
    * candidate graph knn_join gates (no all-pairs; candidates =
    * bucket-mates), so the oracle replays planes → keys → candidates
    * → lattice distances end to end. Scale shape: the candidate join
    * ([[Refine.bucketPairs]]) shuffles (table, key, id, key-array)
    * rows and emits each pair once, with no pair distinct;
    * distances attach by two equi-joins on the surviving pairs; the
    * rank window is keyed by qid; the final fold is 10 rows. */
  def twonnRatio(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val keyed = embeddingKeyedOf(e, NTables, BitsPerTable)
    val cand = Refine.bucketPairs(keyed, keyed, SignBucket, "vec_id",
      Some(_ =!= _))((a, b) => Seq(a.as("qid"), b.as("nid")))
    val lat = e.select(col("vec_id"), latArrCol(col("embedding")).as("q"))
    val d = aggregate(zip_with(col("qq"), col("nq"), (x, y) => (x - y) * (x - y)),
      lit(0L), (a, x) => a + x)
    val scored = cand
      .join(lat.select(col("vec_id").as("nid"), col("q").as("nq")), "nid")
      .join(lat.select(col("vec_id").as("qid"), col("q").as("qq")), "qid")
      .withColumn("dd", d)
    Refine.topK(scored, Seq("qid"), Seq(col("dd").asc, col("nid").asc), 2, "rnk",
        longRank = false)
      .groupBy(col("qid"))
      .agg(min(when(col("rnk") === 1, col("dd"))).as("d1"),
        min(when(col("rnk") === 2, col("dd"))).as("d2"))
      .filter(col("d1") > 0L && col("d2").isNotNull)
      .select(expr(
        "least((d2 * 1048576) div d1 - 1048576, 2097149) div 209715").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_points"))
  }

  private[operators] def twonnRatioSql: String = {
    val planeRows = planesLiteral
    s"""WITH planes(t, j, p) AS (VALUES $planeRows),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |      FROM embeddings),
       |bits AS (
       |  SELECT e.vec_id, pl.t, pl.j,
       |    CASE WHEN list_inner_product(e.emb, pl.p) >= 0 THEN 1 << pl.j ELSE 0 END AS bit
       |  FROM e CROSS JOIN planes pl),
       |keys AS (SELECT vec_id, t, CAST(sum(bit) AS BIGINT) AS key FROM bits GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM keys q JOIN keys c ON q.t = c.t AND q.key = c.key AND c.vec_id <> q.vec_id),
       |l AS (SELECT vec_id,
       |        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)) AS q
       |      FROM embeddings),
       |dd AS (SELECT unnest(range($Dim)) AS i),
       |sc AS (SELECT cands.qid, cands.nid,
       |         CAST(sum((ql.q[dd.i + 1] - nl.q[dd.i + 1])
       |                * (ql.q[dd.i + 1] - nl.q[dd.i + 1])) AS BIGINT) AS d
       |       FROM cands
       |       JOIN l ql ON ql.vec_id = cands.qid
       |       JOIN l nl ON nl.vec_id = cands.nid
       |       CROSS JOIN dd GROUP BY 1, 2),
       |r AS (SELECT qid, d,
       |        row_number() OVER (PARTITION BY qid ORDER BY d ASC, nid ASC) AS rnk
       |      FROM sc),
       |two AS (SELECT qid,
       |          CAST(max(CASE WHEN rnk = 1 THEN d END) AS BIGINT) AS d1,
       |          CAST(max(CASE WHEN rnk = 2 THEN d END) AS BIGINT) AS d2
       |        FROM r WHERE rnk <= 2 GROUP BY qid)
       |SELECT CAST(least((d2 * 1048576) // d1 - 1048576, 2097149) // 209715 AS BIGINT) AS bucket,
       |  count(*) AS n_points
       |FROM two WHERE d1 > 0 AND d2 IS NOT NULL GROUP BY 1""".stripMargin
  }

  private[operators] def mrrEvalSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS qlabel,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
       |           FROM embeddings WHERE vec_id < $NQueries),
       |c AS (SELECT vec_id AS nid, CAST(label AS BIGINT) AS nlabel,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ne
       |      FROM embeddings),
       |r AS (SELECT qid, qlabel, nid, nlabel,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY list_cosine_similarity(qe, ne) DESC, nid ASC) AS rnk
       |      FROM q, c WHERE qid <> nid),
       |f AS (SELECT qid, min(rnk) AS first_rank
       |      FROM r WHERE rnk <= $MrrDepth AND nlabel = qlabel GROUP BY qid)
       |SELECT q.qid, q.qlabel AS label,
       |  coalesce(f.first_rank, 0) AS first_rank,
       |  coalesce(1048576 // f.first_rank, 0) AS rr_q
       |FROM q LEFT JOIN f ON q.qid = f.qid""".stripMargin

  /** Calibration curve of the kNN classifier — accuracy bucketed by
    * vote count (the classifier's native confidence signal): "when 4
    * of 5 neighbors agree, how often is the label right?" — the
    * downstream-threshold question every weak-labeling pipeline
    * answers before trusting auto-labels. Pure rollup of
    * [[knnClassify]]'s gated output (2²⁰-lattice accuracy, one
    * truncating division), so the oracle wraps the identical
    * classifier replay — O(k) output rows at any corpus size. */
  def knnCalibration(spark: SparkSession, dir: String): DataFrame =
    knnClassify(spark, dir)
      .groupBy(col("n_votes"))
      .agg(count(lit(1)).as("n_queries"), sum(col("correct")).as("n_correct"))
      .select(col("n_votes"), col("n_queries"), col("n_correct"),
        expr("(n_correct * 1048576) div n_queries").as("acc_q"))

  /** Reciprocal-rank fusion (RRF, Cormack et al. 2009) of the two
    * exact retrieval rankings the registry gates — cosine
    * ([[annTopkBrute]]) and max-inner-product ([[mipsTopk]]): per
    * (query, candidate) the fused score Σ 2²⁰ div (60 + rank) over
    * the lists that surfaced it, re-ranked top-[[K]]. RRF is THE
    * production hybrid-retrieval combiner (lexical + dense, or two
    * dense towers) precisely because it needs only ranks — which are
    * integers — so unlike score-interpolation fusion the entire
    * operator is exact on the lattice. Scale shape: both input
    * rankings are rank-limit-pushed per query; the fusion is one
    * (qid, nid) partial+final sum over ≤ 2K rows per query plus a
    * top-K window — negligible next to the retrievals themselves. */
  def rankFusion(spark: SparkSession, dir: String): DataFrame = {
    val lists = annTopkBrute(spark, dir).select(col("qid"), col("nid"), col("rnk"))
      .unionAll(mipsTopk(spark, dir).select(col("qid"), col("nid"), col("rnk")))
    val fused = lists.groupBy(col("qid"), col("nid"))
      .agg(sum(expr("1048576 div (60 + rnk)")).as("rrf_q"),
        count(lit(1)).as("n_lists"))
    Refine.topK(fused, Seq("qid"), Seq(col("rrf_q").desc, col("nid").asc), K, "rnk",
        longRank = true)
      .select(col("qid"), col("rnk"), col("nid"), col("rrf_q"), col("n_lists"))
  }

  /** Class centroids (prototype vectors) — the per-label mean
    * embedding on the 2⁻²⁰ lattice: the nearest-centroid companion
    * to [[knnClassify]] (Rocchio / prototype classification), and
    * the per-class drift reference an embedding pipeline monitors
    * across model versions. Mean = integral per-dimension sums with
    * ONE truncating division, so the 64-long centroid is bit-exact
    * cross-engine (the Lloyd-round arithmetic, reused as an output).
    *
    * Scale shape: lattice-quantize on the scan, posexplode to
    * (label, dim, qv) — 64× fan-out of LONGS, never raw vectors in
    * the wide shuffle — one partial+final sum on (label, dim), then
    * an O(|classes|·64) reassembly into ordered arrays.
    *
    * Library form: [[classCentroidsTyped]] keeps `centroid_q` as the
    * typed `array<long>`; the registered query emits it comma-joined
    * (the `embed_q8` precedent) because the harness compare sorts
    * columns cell-wise and cannot order array cells. */
  def classCentroidsTyped(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(latArrCol(col("embedding"))))
      .toDF("label", "d", "qv")
      .groupBy(col("label"), col("d"))
      // per-class lattice sums approach 2⁶³ at ~10¹³ members (qv ≤
      // 2²⁰ per element) — decimal headroom, quotient back in BIGINT
      .agg(sum(col("qv").cast("decimal(38,0)")).as("sq"), count(lit(1)).as("n"))
    g.groupBy(col("label"))
      .agg(max(col("n")).as("n_members"),
        transform(
          sort_array(collect_list(struct(col("d"), expr("sq div n").as("cq")))),
          e => e("cq")).as("centroid_q"))
  }

  /** Registered (oracle-compared) form of [[classCentroidsTyped]]:
    * identical lattice arithmetic, `centroid_q` serialized to a
    * comma-joined string so the cross-engine compare can sort it. */
  def classCentroids(spark: SparkSession, dir: String): DataFrame =
    classCentroidsTyped(spark, dir)
      .withColumn("centroid_q", array_join(col("centroid_q"), ","))

  /** Index-quality profile of the IVF coarse quantizer — per cell:
    * member count, tightest/loosest member cosine to the learned
    * centroid, and how many members sit below 0.1 ("loose" vectors
    * whose cell barely represents them). This is the monitoring
    * query an ANN deployment runs after every (re)train/ADD cycle:
    * skewed counts → imbalanced probe cost, a fat loose tail → the
    * recall floor is about to sag and the quantizer wants more cells
    * or a re-train. Spreads (min/max/threshold-count) are emitted
    * instead of a mean because double summation is order-sensitive
    * across engines while min/max/count are exactly reproducible.
    *
    * Scale shape: one narrow typed pass computes each vector's
    * (cell, cos) against the broadcast centroid array (driver
    * metadata, the ann_ivf precedent), then ONE partial+final
    * aggregation on cell — O(cells) output at any corpus size. */
  def clusterStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = learnedCentroids(spark, dir)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (_, v) =>
        cents.map { case (i, c) => (i, cosTo(c, v)) }
          .minBy { case (i, s) => (-s, i) }
      }
      .toDF("cell", "cos")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(min(col("cos")), 4).as("min_cos"),
        round(max(col("cos")), 4).as("max_cos"),
        sum(when(col("cos") < 0.1, 1L).otherwise(0L)).as("n_loose"))
      .select(col("cell").cast("long").as("cell"), col("n"),
        col("min_cos"), col("max_cos"), col("n_loose"))
  }

  private[operators] val KnnK = 3

  /** Registered default for the kNN-join bucket-mate ring cap (r17,
    * same arc as [[GraphInitPairCap]] but with a STRONGER measured
    * license: the r17 `knncap` sweep found the cap-64 output EXACTLY
    * EQUAL to the uncapped op at every swept SF — recall 1.0000,
    * set-identical rows — because a true top-[[KnnK]] neighbor
    * shares a bucket with its query in many of the 16 tables, so at
    * least one table's ring reaches it. Candidate mass (analytic,
    * counts2): uncapped 543k → 55.7M → 5.59G at 1×/10×/100× —
    * QUADRATIC, the ann_graph-init ENOSPC class — vs capped
    * 543k → 18.4M → 203M, linear once saturated. The oracle's
    * candidate CTE is generated from this constant, so engine and
    * replay flip together (PLANS.md §"Round 17"). */
  private[operators] val KnnBucketCap = 64

  /** All-vectors approximate k-NN JOIN: every vector finds its
    * [[KnnK]] nearest LSH-candidate neighbors — the self-join
    * counterpart of [[annLsh]]'s fixed query set, and the primitive
    * behind neighbor-graph construction (embedding near-dup graphs,
    * semantic clustering) at corpus scale. Candidates are bucket-mates
    * in ≥1 of the 16 sign tables, ring-bounded by [[KnnBucketCap]]
    * (r17 — linear in n, measured output-identical to unbounded);
    * candidates are scored map-side inside the ring join's stage
    * (r18) and reduced to per-(table, query) winners before any
    * exchange, so the shuffles carry (table, key, id) tuples and then
    * ≤ NTables·K winner rows per query — never the candidate pair
    * mass, never all-pairs. Approximate BY CONSTRUCTION (neighbors outside every
    * shared bucket are unseen — at the 16×6 operating point that loss
    * concentrates on low-cos neighbors); the oracle replays the SAME
    * bucketing and ring, so the gate is exact for the operator as
    * specified. */
  def knnJoin(spark: SparkSession, dir: String): DataFrame =
    knnJoinCapped(spark, dir, KnnBucketCap)

  /** [[knnJoin]] at an explicit bucket-mate pair cap. Uncapped, the
    * bucket-mate self-join has the same inherent quadratic as the
    * NN-descent init: at fixed key bits the per-table bucket
    * population grows ~n/2^bits, so it is Σ bucket² ~ n² (r17
    * counts2, PLANS.md §"Round 17"). A finite cap takes the
    * [[Refine.ringPairs]] candidates (symmetrized — every vector is a
    * query here), LINEAR in n. The registered op ships
    * [[KnnBucketCap]]; `Int.MaxValue` runs the unbounded self-join,
    * which EdgeCaseSpec uses as the reference the ring cap must
    * match set-for-set on the fixture. */
  private[graft] def knnJoinCapped(spark: SparkSession, dir: String,
      bucketCap: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    def attach(pairs: DataFrame): DataFrame = pairs
      .join(vecHinted(e.select(col("vec_id").as("nid"), col("embedding").as("ne"))), "nid")
      .join(vecHinted(e.select(col("vec_id").as("qid"), col("embedding").as("qe"))), "qid")
      .withColumn("cos", cosine_sim(col("qe"), col("ne")))
    val scored = if (bucketCap == Int.MaxValue) {
      // historical unbounded branch: every bucket-mate pair once
      // (owned by its first shared table), then score + rank — the
      // Σ bucket² mass this shape shuffles is the measured ENOSPC
      // class at 100×; kept as the reference EdgeCaseSpec holds the
      // ring cap to
      val keyed = embeddingKeyedOf(e, NTables, BitsPerTable)
      attach(Refine.bucketPairs(keyed, keyed, SignBucket, "vec_id",
        Some(_ =!= _))((a, b) => Seq(a.as("qid"), b.as("nid"))))
    } else {
      // r18 rework (the dedup_fuzzy lesson re-applied): the global
      // pair distinct dominated the 100× wall (OPTIMIZATION_r18.md:
      // raw ring mass 405.3M directional rows generates in ~10 s; the distinct
      // to 350.4M — duplication factor only 1.16 — cost +53 s of a
      // 91 s wall). Instead: score the RAW directional rows (vectors
      // arrive by size-gated broadcast, so this is map-side over the
      // ring join's output, never a pair shuffle) and take a
      // PER-(table, qid) top-[[KnnK]] first. Lossless: each table's
      // candidate set is a subset of the union, so any global top-K
      // neighbor ranks ≤ K inside every table that generated it —
      // the per-table winners are a superset of the global winners
      // under the same deterministic (cos desc, nid asc) order; only
      // ≤ NTables·K rows per query reach any exchange. Cross-table
      // duplicates then dedup at winner scale (≤ 16·K·n rows, vs 350M
      // before) ahead of the global rank.
      val tagged = embeddingTaggedOf(e, NTables, BitsPerTable)
      Refine.topK(attach(Refine.ringPairs(tagged, bucketCap, ("qid", "nid"))),
          Seq("table_idx", "qid"), ByCos, KnnK, "rt", longRank = false)
        .select(col("qid"), col("nid"), col("cos"))
        .distinct()
    }
    Refine.topK(scored, Seq("qid"), ByCos, KnnK, "rnk", longRank = true)
      .select(col("qid"), col("rnk"), col("nid"), round(col("cos"), 4).as("cos"))
  }

  /** The (cos desc, dst asc) edge order of the neighbor-graph keeps. */
  private[operators] val ByCosDst: Seq[Column] = Seq(col("cos").desc, col("dst").asc)

  // -- graph ANN: bounded NN-descent k-NN graph + beam search --------

  private[operators] val GraphDeg = 16      // out-degree of the neighbor graph
  private[operators] val BeamWidth = 48     // candidates kept per query per hop
  private[operators] val BeamHops = 4       // beam expansion rounds
  private[operators] val SeedStride = 10    // entry points: vec_id % stride == 0
  // r15 (VERDICT r14 item 4): 2 → 1. The per-stage timing
  // attribution (PLANS.md r15) showed the BUILD dominates ann_graph
  // (keys 1.8 s + init 3.0 + 1.7 per descent round; the beam hops
  // are ~0.1 s total), so the round count — not any beam dial — is the cost
  // lever. Descent-round A/B (tri-SF, 2 reps each): rounds=1 recall@5
  // 1.00/1.00/0.96 vs rounds=2's 1.00/1.00/0.92 at ~half the cold
  // wall (4.8-5.7 s vs 8.5-15.5) — one round is BOTH cheaper and
  // better-navigable here (NN-descent tightens neighbor quality but
  // over-clusters the graph for beam search — the known diversity/
  // navigability trade). At larger corpora where LSH buckets thin
  // out, raising rounds back is the first thing to re-measure.
  private[operators] val DescentRounds = 1

  /** Broadcast ceiling for the descent build's vector table (r16):
    * well past Spark's 10 MB default because the alternative is a
    * per-PAIR wide shuffle, but bounded — 256 MB lands on every
    * executor once per build and is the conventional upper bound for
    * a useful broadcast. */
  private[operators] val GraphBroadcastVecBytes = 256L << 20

  /** Registered default for the LSH-init pair cap (r17, flipping the
    * r16 dial on the judge's call): at a FIXED key length the
    * per-table bucket population grows ~linearly with the corpus, so
    * the unbounded bucket-mate self-join is QUADRATIC in n — ScaleLab
    * drove it to ENOSPC twice at the 100× corpus (>90 GB of shuffle)
    * before the descent even started. The ring-bounded init (each
    * bucket member pairs with its next `cap` vec_id-ranked in-bucket
    * successors, symmetrized) is linear in n and measured
    * RECALL-IDENTICAL to the unbounded init at every swept SF
    * (recall@5 1.000 / 1.000 / 0.960, r16 tri-SF A/B in PLANS.md,
    * caps ∞/256/64) — descent rounds repair init quality, the classic
    * random-init NN-descent argument, and bucket-mates are already
    * LSH-close. The oracle's init CTE is generated from this constant
    * (the DescentRounds precedent), so engine and replay cannot
    * drift. */
  private[operators] val GraphInitPairCap = 64

  /** Broadcast hint for a vector relation attached to a CANDIDATE-
    * PAIR list (r17, generalizing the r16 GraphBroadcastVecBytes
    * lesson to every such site): past Spark's 10 MB auto-threshold
    * the attach join flips to sort-merge and every candidate pair
    * drags a Dim×4-byte vector through the exchange (~31 GB/pass at
    * the measured 100× descent build). Gate is PLAN-ONLY (scan
    * stats, no job); ×2 covers deserialized-row overhead over the
    * on-disk estimate. Above the ceiling the shuffle shape returns —
    * a 1000-executor cluster has the disk — and the caller's
    * candidate dial is the volume lever. */
  private[operators] def vecFitsBroadcast(rel: DataFrame,
      bcBytes: Long = GraphBroadcastVecBytes): Boolean =
    rel.queryExecution.optimizedPlan.stats.sizeInBytes * 2 < BigInt(bcBytes)

  private[operators] def vecHinted(rel: DataFrame): DataFrame =
    if (vecFitsBroadcast(rel)) broadcast(rel) else rel

  /** The k-NN neighbor graph behind [[annGraph]]: per vector, its
    * top-[[GraphDeg]] cosine neighbors among LSH bucket-mates
    * (initialization), refined by [[DescentRounds]] rounds of
    * NN-descent (Dong et al., WWW'11): each round's candidate set is
    * the current edges ∪ forward neighbor-of-neighbor pairs ∪
    * reversed edges ∪ co-neighbor pairs (two vectors sharing a
    * neighbor — the "local join" that makes NN-descent converge),
    * re-ranked to top-M per node. Everything is deterministic
    * (fixed-seed LSH init, ties → lower dst), so the DuckDB oracle
    * replays the whole construction.
    *
    * Scale shape: no all-pairs anywhere — init candidates are LSH
    * bucket-mates (the knn_join trade), and each descent round is
    * self-joins of an (n × M) edge list partitioned on the join key,
    * i.e. O(n·M²) candidate rows per round with M a small constant.
    * Rounds are a bounded constant, and each round's graph is cut
    * ([[Rounds]]) because the next round references it six times
    * (edges + fwd×2 + rev + co×2) and the FINAL graph is referenced
    * once per beam hop by [[annGraph]].
    *
    * The descent's local join generates candidates from each node's
    * full top-[[GraphDeg]] edges. Capping that at 12 (44% less
    * candidate mass, r14 A/B) kept recall identical at every SF but
    * saved only 0.2 s at sf0.1 — the per-round fixed structure
    * dominates the n·M² term at fixture scale — so no cap ships.
    *
    * One seam stays: `bcBytes` (GraphDescentParitySpec forces the
    * past-gate shape on fixture data with 0). */
  private[operators] def neighborGraph(spark: SparkSession, dir: String,
      bcBytes: Long = GraphBroadcastVecBytes): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // r19 (VERDICT r18 item 3): the descent's pair-dedup SHAPE
    // follows the SAME plan-stats gate that decides the vector
    // broadcast. Below the gate (vectors broadcast) the r18 in-window
    // lag-dedup wins: the raw descent union is scored map-side and
    // crosses ONE (src) exchange; duplicates only pay broadcast-attach
    // + cosine. PAST the gate the attach joins SHUFFLE every candidate
    // row, so the raw duplicated mass would cross THREE exchanges
    // (src-attach, dst-attach, window) where the distinct-first shape
    // shuffles the deduped mass — there dedup FIRST (2–5% faster past
    // the gate, OPTIMIZATION_r19.md).
    val windowDedup = vecFitsBroadcast(e, bcBytes)
    // r16 ScaleLab finding: the descent local join emits n×(2·deg²
    // + deg) candidate PAIRS (~105M at a 200k-vector corpus), and
    // past Spark's 10 MB auto-broadcast threshold the two
    // embedding-attach joins flip to sort-merge — every pair then
    // drags a Dim×4-byte vector through an exchange (~31 GB a pass;
    // the measured x100 build spilled >90 GB and died ENOSPC).
    // Below [[GraphBroadcastVecBytes]] the vector table is hinted
    // broadcast, so pair traffic stays (src, dst) ids and the only
    // wide relation is the post-cos (src, dst, cos) window input.
    // Beyond the cap the shuffle shape returns (a 1000-executor
    // cluster has the disk for it); the next lever past THAT scale
    // is PQ-coded candidate distances + exact re-rank (the
    // [[SimilarityPqIndex]] machinery), which divides per-pair bytes
    // by ~16 at the cost of an approximate descent ordering.
    //
    // Size gate is PLAN-ONLY via [[vecFitsBroadcast]] (ADVICE r16:
    // the old eager e.count() ran a job on every construction,
    // including plan-only consumers like the plan audit, and its
    // Dim×4-payload estimate ignored deserialized-row overhead).
    val eHinted = if (windowDedup) broadcast(e) else e
    val tagged = embeddingTaggedOf(e, NTables, BitsPerTable)
    def scored(pairs: DataFrame): DataFrame = pairs
      .join(eHinted.select(col("vec_id").as("src"), col("embedding").as("se")), "src")
      .join(eHinted.select(col("vec_id").as("dst"), col("embedding").as("de")), "dst")
      .withColumn("cos", cosine_sim(col("se"), col("de")))
    // r16 ScaleLab: at a FIXED key length the per-table bucket
    // population grows linearly with the corpus, so this bucket-mate
    // self-join is inherently QUADRATIC in n — the measured x100 run
    // generated ~10⁴× the init pairs and died ENOSPC before the
    // descent even started. The [[Refine.ringPairs]] init at
    // [[GraphInitPairCap]] (r17) is LINEAR in n, while descent
    // rounds repair init quality (the classic random-init NN-descent
    // argument; bucket-mates are already LSH-close); the oracle
    // replays the same ring from the same constant. The structural
    // alternative is growing BitsPerTable with log n, which keeps
    // bucket sizes constant.
    //
    // r18 rework (the knn_join/dedup_fuzzy lesson): the ring pairs'
    // global distinct shuffled ~405M directional rows at the 100×
    // corpus with a duplication factor of only ~1.16. Instead,
    // score the raw directional rows (vectors arrive broadcast, so
    // this is map-side over the ring join's bucket-partitioned
    // output) and keep a per-(table, src) top-[[GraphDeg]] FIRST —
    // lossless: each table's candidate set is a subset of the
    // union, so every global top-M neighbor ranks ≤ M inside each
    // table that generated it, and [[topM]] over these winners
    // (dedup'd at winner scale, ≤ NTables·deg·n rows) returns the
    // identical graph under the same (cos desc, dst asc) order.
    // Winners re-score in topM (a ≤ NTables·deg·n re-pass) —
    // measured far cheaper than the pair-mass distinct it replaces.
    val cand0 = Refine.topK(
        scored(Refine.ringPairs(tagged, GraphInitPairCap, ("src", "dst"))),
        Seq("table_idx", "src"), ByCosDst, GraphDeg, "rt", longRank = false)
      .select(col("src"), col("dst"))
      .distinct()
    def topM(cand: DataFrame): DataFrame = {
      // past-gate shape: dedup the pair mass BEFORE the (now
      // shuffling) attach joins — see the gate note above.
      // Below the gate `base = cand` and the in-window lag filter
      // does the dedup after map-side scoring (the r18 shape,
      // byte-identical plan to what r18 shipped).
      val base = if (windowDedup) cand else cand.distinct()
      val w = Window.partitionBy(col("src")).orderBy(ByCosDst: _*)
      // r18 descent rework (the knn_join/dedup_fuzzy lesson, applied
      // to the build's LAST pair-mass distinct): the descent union
      // arrives RAW, so duplicate (src, dst) pairs are removed
      // INSIDE the top-M window instead of by an upstream global
      // distinct. Duplicates carry identical (cos, dst) — cosine_sim
      // is a pure function of the attached embeddings — so they sort
      // ADJACENT under (cos desc, dst asc): lag(dst) flags every copy
      // after the first, and row_number then ranks the surviving
      // distinct rows exactly as it ranked the old distinct input
      // (set-identical at sf0.1 and x10, OPTIMIZATION_r18.md; the
      // oracle replays the distinct-based construction and stays
      // green). Both window functions share one (src) exchange +
      // sort, so the n·(2·deg² + 2·deg) descent mass crosses ONE
      // exchange where the old plan paid two — the (src, dst)
      // distinct's, then the per-src window's. The score is computed
      // per RAW row (duplication ≈ the union overlap factor), the
      // same CPU-for-shuffle trade the dedup_fuzzy/knn_join reworks
      // measured as a clear win. Pre-deduplicated input (the init)
      // passes the lag filter untouched.
      val s = scored(base)
      val deduped =
        if (!windowDedup) s // already distinct upstream
        else s.withColumn("dup", lag(col("dst"), 1).over(w) === col("dst"))
          .filter(!coalesce(col("dup"), lit(false)))
      Refine.topK(deduped, Seq("src"), ByCosDst, GraphDeg, "rn", longRank = false)
        .select("src", "dst")
    }
    Rounds.fixed(DescentRounds, Rounds.cut(topM(cand0)), cutLast = true) { (g, cut) =>
      val fwd = g.as("a").join(g.as("b"),
          col("a.dst") === col("b.src") && col("a.src") =!= col("b.dst"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
      val rev = g.select(col("dst").as("src"), col("src").as("dst"))
      val co = g.as("a").join(g.as("b"),
          col("a.src") === col("b.src") && col("a.dst") =!= col("b.dst"))
        .select(col("a.dst").as("src"), col("b.dst").as("dst"))
      cut(topM(g.union(fwd).union(rev).union(co)))
    }
  }
}
