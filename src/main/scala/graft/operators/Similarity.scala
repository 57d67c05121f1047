package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedDataset
import graft.functions.VectorFunctions.cosine_sim
import graft.sources.Tables

/** Similarity search over the `embeddings` fixture (north-star op;
  * the reference has no vector surface — SURVEY.md §2.2).
  *
  * Five search paths plus two storage forms:
  *  - `annTopkBrute`: exact top-k by cosine. The (small) query set is
  *    broadcast against the full vector table, so the big side streams
  *    once with no shuffle of the vectors themselves; per-query top-k
  *    is a rank over the scored stream. This is the correct 100 TB
  *    baseline: one scan, one narrow (qid, nid, score) shuffle.
  *  - `annLsh`: random-hyperplane LSH. Vectors hash to 16-bit sign
  *    buckets; only bucket-mates are scored. Sub-linear candidate
  *    generation at the cost of recall — the scale path when the
  *    query set is itself huge. Hyperplanes are derived from a
  *    fixed-seed SplitMix64 so results are bit-stable.
  *  - `annIvf`: IVF-flat — data-adaptive coarse quantizer (Lloyd-
  *    trained cells), multi-probe candidate generation.
  *  - `annPq`: product quantization — trained per-subspace codebook,
  *    integer ADC tables, shortlist + exact rerank (the FAISS-style
  *    billion-scale shape).
  *  - `annGraph`: graph ANN (HNSW-class) — bounded NN-descent k-NN
  *    graph + beam search; the third candidate-generation family
  *    beside hashing and quantization.
  *  - `embedQuantize` (int8 scalar) and `embedPq` (4-bit PQ codes):
  *    the storage/bandwidth halves, 4× and 64× payload cuts.
  */
object Similarity extends SimilaritySearch with SimilarityPqIndex {


  // @transient: a closure in a trait-slice method captures the module
  // (see the Serializable note on the slices); the registry maps are the
  // module's heavy fields (hundreds of lambdas + oracle SQL) and must not
  // ride every task binary — readResolve restores the singleton, so field
  // contents never survive deserialization anyway.
  @transient val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gram_matrix" -> gramMatrix,
    "pca_power" -> pcaPower,
    "pca_project" -> pcaProject,
    "ann_index" -> annIndex,
    "ann_index_add" -> annIndexAdd,
    "ann_topk" -> annTopkBrute,
    "ann_filtered" -> annFiltered,
    "hard_negatives" -> hardNegatives,
    "mmr_select" -> mmrSelect,
    "coreset_kcenter" -> coresetKcenter,
    "mrl_truncate" -> mrlTruncate,
    "embed_center" -> embedCenter,
    "mips_topk" -> mipsTopk,
    "pq_distortion" -> pqDistortion,
    "ann_lsh"  -> annLsh,
    "ann_ivf"  -> annIvf,
    "ann_radius" -> annRadius,
    "cluster_stats" -> clusterStats,
    "ann_pq"   -> annPq,
    "ann_ivfpq" -> annIvfPq,
    "ann_graph" -> annGraph,
    "embed_q8" -> embedQuantize,
    "embed_drift" -> embedDrift,
    "embed_pq" -> embedPq,
    "knn_join" -> knnJoin,
    "knn_classify" -> knnClassify,
    "knn_calibration" -> knnCalibration,
    "rank_fusion" -> rankFusion,
    "ann_recall" -> annRecall,
    "mrr_eval" -> mrrEval,
    "twonn_ratio" -> twonnRatio,
    "pq_code_balance" -> pqCodeBalance,
    "ann_filtered_ivf" -> annFilteredIvf,
    "ivf_probe_curve" -> ivfProbeCurve,
    "class_centroids" -> classCentroids,
    "contrastive_pairs" -> contrastivePairs,
    "mutual_knn" -> mutualKnn,
    "knn_margin" -> knnMargin,
    "cell_label_purity" -> cellLabelPurity,
    "centroid_outliers" -> centroidOutliers,
    "label_noise" -> labelNoise,
    "conformal_knn" -> conformalKnn,
    "embed_norm_stats" -> embedNormStats)

  /** Seed-window predicate for the oracle replays — replays the
    * engine's corpus-relative slice ([[seedWindowBase]]: min(vec_id)
    * + [[SeedBaseOffset]], width `n`) so oracle and engine stay in
    * lockstep through the ONE shared constant (r15, VERDICT r14
    * item 5). */
  private[operators] def seedWindowSql(n: Int): String =
    s"vec_id >= (SELECT min(vec_id) + $SeedBaseOffset FROM embeddings) " +
      s"AND vec_id < (SELECT min(vec_id) + ${SeedBaseOffset + n} FROM embeddings)"

  /** Shared PQ replay: lattice-floored vectors, the sampled-point
    * SEED codebook, the per-subspace Lloyd mean update (integral
    * sums, truncating division), then per-(vector, subspace, code)
    * integer L2 against the TRAINED codebook and the argmin code
    * assignment — every quantity an exact BIGINT, so `embed_pq` and
    * `ann_pq` hash-gate the whole operator including training. */
  private[operators] def pqReplayPrefix(trainWhere: String = "TRUE"): String =
    s"""e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |cb0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, q AS cq
       |        FROM e WHERE ${seedWindowSql(NCodes)}),
       |sd AS (SELECT ss.s, dd.d FROM (SELECT unnest(range($NSub)) AS s) ss
       |       CROSS JOIN (SELECT unnest(range($SubDim)) AS d) dd),
       |nd0 AS (
       |  SELECT e.vec_id, sd.s, cb0.code,
       |    CAST(sum((COALESCE(e.q[sd.s*$SubDim + sd.d + 1], 0) - COALESCE(cb0.cq[sd.s*$SubDim + sd.d + 1], 0))
       |           * (COALESCE(e.q[sd.s*$SubDim + sd.d + 1], 0) - COALESCE(cb0.cq[sd.s*$SubDim + sd.d + 1], 0))) AS BIGINT) AS dist
       |  FROM e CROSS JOIN sd CROSS JOIN cb0
       |  WHERE $trainWhere
       |  GROUP BY 1, 2, 3),
       |codes0 AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rk
       |    FROM nd0) t WHERE rk = 1),
       |lsums AS (
       |  SELECT c.s, c.code, dd.d,
       |    CAST(sum(COALESCE(e.q[c.s*$SubDim + dd.d + 1], 0)) AS BIGINT) AS sq,
       |    count(*) AS n
       |  FROM codes0 c JOIN e USING (vec_id)
       |  CROSS JOIN (SELECT unnest(range($SubDim)) AS d) dd
       |  GROUP BY 1, 2, 3),
       |cbt AS (
       |  SELECT sd.s, c0.code, sd.d,
       |    COALESCE(su.sq // su.n, COALESCE(c0.cq[sd.s*$SubDim + sd.d + 1], 0)) AS v
       |  FROM cb0 c0 CROSS JOIN sd
       |  LEFT JOIN lsums su ON su.s = sd.s AND su.code = c0.code AND su.d = sd.d),
       |nd AS (
       |  SELECT e.vec_id, cbt.s, cbt.code,
       |    CAST(sum((COALESCE(e.q[cbt.s*$SubDim + cbt.d + 1], 0) - cbt.v)
       |           * (COALESCE(e.q[cbt.s*$SubDim + cbt.d + 1], 0) - cbt.v)) AS BIGINT) AS dist
       |  FROM e CROSS JOIN cbt
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rk
       |    FROM nd) t WHERE rk = 1)""".stripMargin

  /** Full IVF-PQ replay, training CTEs restricted to `trainWhere`
    * (TRUE = train on everything — `ann_ivfpq`/`ann_index`; a base
    * filter = the incremental-add contract, where the assign/codes
    * CTEs still cover EVERY vector using the base-trained artifacts —
    * exactly what [[annIndexAdd]] computes). */
  /** DuckDB replay of the IVF coarse quantizer — seed slice, one
    * integral-lattice Lloyd round, final assignment — ending in a
    * `cells(nid, cell)` CTE. Shared verbatim by the `ann_ivf` oracle
    * and `dedup_semantic`'s ([[graft.operators.Dedup.dedupSemantic]]),
    * so the two operators are gated against the IDENTICAL quantizer. */
  private[operators] def IvfCellsSqlPrefix: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |           FROM embeddings),
       |cents0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS ce
       |  FROM e WHERE ${seedWindowSql(NCells)}),
       |a0 AS (
       |  SELECT e.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.emb, c.ce) DESC, c.cell ASC) AS rk
       |  FROM e CROSS JOIN cents0 c),
       |m0 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
       |dims AS (SELECT unnest(range($Dim)) AS d),
       |sums AS (
       |  SELECT m0.cell, dims.d,
       |    CAST(sum(COALESCE(CAST(floor(e.emb[dims.d + 1] * $QScale.0) AS BIGINT), 0)) AS BIGINT) AS sq,
       |    count(*) AS n
       |  FROM m0 JOIN e USING (vec_id) CROSS JOIN dims GROUP BY 1, 2),
       |cents AS (
       |  SELECT c0.cell,
       |    list(COALESCE(CAST(s.sq // s.n AS DOUBLE) / $QScale.0,
       |                  c0.ce[dims.d + 1]) ORDER BY dims.d) AS ce
       |  FROM cents0 c0 CROSS JOIN dims
       |  LEFT JOIN sums s ON s.cell = c0.cell AND s.d = dims.d
       |  GROUP BY c0.cell),
       |assign AS (
       |  SELECT e.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.emb, c.ce) DESC, c.cell ASC) AS rk
       |  FROM e CROSS JOIN cents c),
       |cells AS (SELECT vec_id AS nid, cell FROM assign WHERE rk = 1)""".stripMargin

  private def ivfPqReplaySql(trainWhere: String = "TRUE"): String =
      s"""WITH ${pqReplayPrefix(trainWhere)},
         |ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |       FROM embeddings),
         |cents0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, emb AS ce
         |  FROM ed WHERE ${seedWindowSql(NCells)}),
         |a0 AS (
         |  SELECT ed.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY ed.vec_id
         |      ORDER BY list_cosine_similarity(ed.emb, c.ce) DESC, c.cell ASC) AS rk
         |  FROM ed CROSS JOIN cents0 c WHERE $trainWhere),
         |m0 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         |dims AS (SELECT unnest(range($Dim)) AS d),
         |sums AS (
         |  SELECT m0.cell, dims.d,
         |    CAST(sum(COALESCE(CAST(floor(ed.emb[dims.d + 1] * $QScale.0) AS BIGINT), 0)) AS BIGINT) AS sq,
         |    count(*) AS n
         |  FROM m0 JOIN ed USING (vec_id) CROSS JOIN dims GROUP BY 1, 2),
         |cents AS (
         |  SELECT c0.cell,
         |    list(COALESCE(CAST(s.sq // s.n AS DOUBLE) / $QScale.0,
         |                  c0.ce[dims.d + 1]) ORDER BY dims.d) AS ce
         |  FROM cents0 c0 CROSS JOIN dims
         |  LEFT JOIN sums s ON s.cell = c0.cell AND s.d = dims.d
         |  GROUP BY c0.cell),
         |assign AS (
         |  SELECT ed.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY ed.vec_id
         |      ORDER BY list_cosine_similarity(ed.emb, c.ce) DESC, c.cell ASC) AS rk
         |  FROM ed CROSS JOIN cents c),
         |cells AS (SELECT vec_id AS nid, cell FROM assign WHERE rk = 1),
         |qcells AS (SELECT vec_id AS qid, cell FROM assign
         |           WHERE vec_id < $NQueries AND rk <= $NProbe),
         |cand AS (SELECT q.qid, c.nid
         |         FROM qcells q JOIN cells c ON q.cell = c.cell AND c.nid <> q.qid),
         |adc AS (
         |  SELECT cand.qid, cand.nid, CAST(sum(qt.dist) AS BIGINT) AS adc
         |  FROM cand JOIN codes c ON c.vec_id = cand.nid
         |  JOIN nd qt ON qt.vec_id = cand.qid AND qt.s = c.s AND qt.code = c.code
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS srk
         |    FROM adc) t WHERE srk <= $PqShortlist),
         |dd AS (SELECT unnest(range($Dim)) AS i),
         |ex AS (
         |  SELECT s.qid, s.nid,
         |    CAST(sum((COALESCE(eq.q[dd.i + 1], 0) - COALESCE(en.q[dd.i + 1], 0))
         |           * (COALESCE(eq.q[dd.i + 1], 0) - COALESCE(en.q[dd.i + 1], 0))) AS BIGINT) AS dist
         |  FROM short s JOIN e eq ON eq.vec_id = s.qid
         |  JOIN e en ON en.vec_id = s.nid CROSS JOIN dd
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, nid, dist,
         |        row_number() OVER (PARTITION BY qid ORDER BY dist ASC, nid ASC) AS rnk
         |      FROM ex)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, dist
         |FROM r WHERE rnk <= $K""".stripMargin

  /** Unrolled [[PcaRounds]]-round power-iteration replay over the
    * gram_matrix CTE (the labelPropSql/pagerankPersonalizedSql
    * precedent): v₀ = 2²⁰, each round mv ← G·v as HUGEINT (G entries
    * grow with corpus mass, v ≤ 2²⁰ → |mv·2²⁰| can pass 2⁶³ well
    * inside HUGEINT range), then v ← mv·2²⁰ // max|mv|. DuckDB `//`
    * truncates toward zero on integers, exactly BigInt `/`. The max
    * is hoisted into its own mx CTE and CROSS JOINed (never a scalar
    * subquery inside an aggregate — the DuckDB LATERAL-binder trap). */
  /** Power-iteration replay prefix (ends at v[[PcaRounds]]), shared
    * verbatim by the `pca_power` and `pca_project` oracles — the
    * BfsCtes rule: a transform must not be able to drift from the
    * loadings it applies. */
  private val PcaCtes: String = {
    def round(r: Int): String =
      s"""mv$r AS (
         |  SELECT g.i AS d, sum(CAST(g.g AS HUGEINT) * v${r - 1}.v) AS mv
         |  FROM g JOIN v${r - 1} ON v${r - 1}.d = g.j GROUP BY 1),
         |mx$r AS (SELECT max(abs(mv)) AS mx FROM mv$r),
         |v$r AS (SELECT d, (mv * $QScale) // mx AS v FROM mv$r CROSS JOIN mx$r)""".stripMargin
    s"""g AS (
       |  SELECT t1.i - 1 AS i, t2.j - 1 AS j,
       |    CAST(sum(CAST(floor(CAST(embedding[t1.i] AS DOUBLE) * $QScale.0) AS BIGINT)
       |           * CAST(floor(CAST(embedding[t2.j] AS DOUBLE) * $QScale.0) AS BIGINT)) AS BIGINT) AS g
       |  FROM embeddings, range(1, ${Dim + 1}) t1(i), range(1, ${Dim + 1}) t2(j)
       |  GROUP BY 1, 2),
       |v0 AS (SELECT unnest(range($Dim)) AS d, CAST($QScale AS HUGEINT) AS v),
       |${Rounds.cteChain(PcaRounds)(round)}""".stripMargin
  }

  private def pcaPowerSql: String =
    s"""WITH $PcaCtes
       |SELECT CAST(d AS BIGINT) AS d, CAST(v AS BIGINT) AS loading_q
       |FROM v$PcaRounds""".stripMargin

  private def pcaProjectSql: String =
    s"""WITH $PcaCtes
       |SELECT e.vec_id,
       |  CAST(sum(CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * $QScale.0) AS BIGINT) * v.v)
       |       // $QScale AS BIGINT) AS score_q
       |FROM embeddings e
       |CROSS JOIN range(1, ${Dim + 1}) t(i)
       |JOIN v$PcaRounds v ON v.d = t.i - 1
       |GROUP BY e.vec_id""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    "pca_power" -> pcaPowerSql,
    "pca_project" -> pcaProjectSql,
    "label_noise" -> labelNoiseSql,
    "conformal_knn" -> conformalKnnSql,
    "knn_margin" -> knnMarginSql,
    "cell_label_purity" -> cellLabelPuritySql,
    "centroid_outliers" -> centroidOutliersSql,
    // lattice products are exact BIGINTs; DuckDB's sum is HUGEINT →
    // both sides land on DECIMAL(38,0). range() is 1..64 → i = idx-1.
    "gram_matrix" ->
      s"""SELECT t1.i - 1 AS i, t2.j - 1 AS j,
         |  CAST(sum(CAST(floor(CAST(embedding[t1.i] AS DOUBLE) * $QScale.0) AS BIGINT)
         |         * CAST(floor(CAST(embedding[t2.j] AS DOUBLE) * $QScale.0) AS BIGINT))
         |       AS BIGINT) AS g
         |FROM embeddings, range(1, ${Dim + 1}) t1(i), range(1, ${Dim + 1}) t2(j)
         |GROUP BY 1, 2""".stripMargin,
    // exact lattice dot — every term and the sum are BIGINTs, so the
    // full MIPS ranking replays with zero float contract
    "mips_topk" ->
      s"""WITH l AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)) AS q
         |  FROM embeddings),
         |qs AS (SELECT vec_id AS qid, q AS qq FROM l WHERE vec_id < $NQueries),
         |dd AS (SELECT unnest(range($Dim)) AS i),
         |sc AS (SELECT qs.qid, l.vec_id AS nid,
         |         CAST(sum(qs.qq[dd.i + 1] * l.q[dd.i + 1]) AS BIGINT) AS dot
         |       FROM qs JOIN l ON l.vec_id <> qs.qid CROSS JOIN dd
         |       GROUP BY 1, 2),
         |r AS (SELECT qid, nid, dot,
         |        row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid ASC) AS rnk
         |      FROM sc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, dot FROM r WHERE rnk <= $K""".stripMargin,
    // nd already holds every (vector, subspace, code) lattice SSE —
    // the assigned-code join IS the distortion lookup
    "pq_distortion" ->
      s"""WITH ${pqReplayPrefix()},
         |da AS (SELECT nd.vec_id, nd.s, nd.dist
         |       FROM nd JOIN codes c
         |         ON c.vec_id = nd.vec_id AND c.s = nd.s AND c.code = nd.code)
         |SELECT CAST(s AS BIGINT) AS s, count(*) AS n,
         |  CAST(sum(dist) // count(*) AS BIGINT) AS mean_sse,
         |  CAST(max(dist) AS BIGINT) AS max_sse
         |FROM da GROUP BY s""".stripMargin,
    "embed_pq" ->
      s"""WITH ${pqReplayPrefix()}
         |SELECT vec_id,
         |  CAST(max(CASE WHEN s = 0 THEN code END) AS BIGINT) AS c0,
         |  CAST(max(CASE WHEN s = 1 THEN code END) AS BIGINT) AS c1,
         |  CAST(max(CASE WHEN s = 2 THEN code END) AS BIGINT) AS c2,
         |  CAST(max(CASE WHEN s = 3 THEN code END) AS BIGINT) AS c3,
         |  CAST(max(CASE WHEN s = 4 THEN code END) AS BIGINT) AS c4,
         |  CAST(max(CASE WHEN s = 5 THEN code END) AS BIGINT) AS c5,
         |  CAST(max(CASE WHEN s = 6 THEN code END) AS BIGINT) AS c6,
         |  CAST(max(CASE WHEN s = 7 THEN code END) AS BIGINT) AS c7
         |FROM codes GROUP BY vec_id""".stripMargin,
    // ADC = Σ_s querytable(s, code_s) — nd already holds every
    // (query, subspace, code) distance, so the join IS the lookup;
    // the shortlist cut and the exact-L2 rerank replay in the same
    // integer arithmetic
    "ann_pq" ->
      s"""WITH ${pqReplayPrefix()},
         |adc AS (
         |  SELECT qt.vec_id AS qid, c.vec_id AS nid, CAST(sum(qt.dist) AS BIGINT) AS adc
         |  FROM codes c JOIN nd qt ON qt.s = c.s AND qt.code = c.code
         |  WHERE qt.vec_id < $NQueries AND c.vec_id <> qt.vec_id
         |  GROUP BY 1, 2),
         |short AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS srk
         |    FROM adc) t WHERE srk <= $PqShortlist),
         |dd AS (SELECT unnest(range($Dim)) AS i),
         |ex AS (
         |  SELECT s.qid, s.nid,
         |    CAST(sum((COALESCE(eq.q[dd.i + 1], 0) - COALESCE(en.q[dd.i + 1], 0))
         |           * (COALESCE(eq.q[dd.i + 1], 0) - COALESCE(en.q[dd.i + 1], 0))) AS BIGINT) AS dist
         |  FROM short s JOIN e eq ON eq.vec_id = s.qid
         |  JOIN e en ON en.vec_id = s.nid CROSS JOIN dd
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, nid, dist,
         |        row_number() OVER (PARTITION BY qid ORDER BY dist ASC, nid ASC) AS rnk
         |      FROM ex)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, dist
         |FROM r WHERE rnk <= $K""".stripMargin,
    // IVF-PQ: the pq replay prefix (lattice e, trained codebook,
    // codes, per-(vector, subspace, code) distances nd) composed with
    // the IVF replay (double-typed `ed`, seed + Lloyd centroids,
    // cell/probe assignment); the candidate set is probed-cell
    // members, ADC joins codes to nd, and the shortlist + exact
    // rerank tail is ann_pq's verbatim
    "ann_ivfpq" -> ivfPqReplaySql(),

    // positives replay as the all-pairs truth (the dedup_embedding
    // oracle's own equivalence); negatives replay the deterministic
    // arithmetic and re-score with list_cosine_similarity
    "contrastive_pairs" ->
      """WITH e AS (SELECT vec_id,
        |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |n AS (SELECT count(*) AS n FROM embeddings),
        |pos AS (
        |  SELECT a.vec_id AS anchor, b.vec_id AS cand,
        |    round(list_cosine_similarity(a.emb, b.emb), 4) AS cos,
        |    CAST(1 AS BIGINT) AS label
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45),
        |negid AS (
        |  SELECT DISTINCT anchor,
        |    (anchor * 7919 + j * 104729) % (SELECT n FROM n) AS cand
        |  FROM pos, (SELECT unnest([1, 2]) AS j) js
        |  WHERE (anchor * 7919 + j * 104729) % (SELECT n FROM n) <> anchor)
        |SELECT anchor, cand, cos, label FROM pos
        |UNION ALL
        |SELECT g.anchor, g.cand,
        |  round(list_cosine_similarity(ea.emb, eb.emb), 4) AS cos,
        |  CAST(0 AS BIGINT) AS label
        |FROM negid g JOIN e ea ON ea.vec_id = g.anchor
        |             JOIN e eb ON eb.vec_id = g.cand""".stripMargin,
    "embed_drift" -> embedDriftSql,
    "embed_q8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))/127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  list_aggregate(list_transform(embedding,
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE)/scale + 0.5) AS BIGINT) AS VARCHAR)),
        |    'string_agg', ',') AS q
        |FROM s""".stripMargin,
    "ann_topk" -> annTopkSql,
    "ann_filtered" -> annFilteredSql,
    "hard_negatives" -> hardNegativesSql,
    "mmr_select" -> mmrSelectSql,
    "coreset_kcenter" -> coresetSql,
    "mrl_truncate" -> mrlTruncateSql,
    "embed_center" -> embedCenterSql,
    // IVF is fully SQL-expressible because every piece is
    // deterministic: DuckDB replays seed-centroid selection, the
    // quantized-integer Lloyd mean update (floor onto the 2^-20
    // lattice → exact BIGINT sums → trunc-toward-zero division, all
    // bit-identical across engines), nearest-cell assignment (ties →
    // lower cell), nprobe probing, in-cell scoring, and per-query
    // top-k — the whole LEARNED operator is hash-gated, not just row
    // counts.
    "ann_ivf" -> annIvfSql,
    // recall@K of the learned IVF index against the exact ranking —
    // BOTH sides are the full gated replays, composed as derived
    // tables, so the eval can never drift from the operators it rates
    "mrr_eval" -> mrrEvalSql,
    "twonn_ratio" -> twonnRatioSql,
    "pq_code_balance" -> pqCodeBalanceSql,
    "ann_filtered_ivf" -> annFilteredIvfSql,
    "ivf_probe_curve" -> ivfProbeCurveSql,
    "ann_recall" ->
      s"""SELECT b.qid, count(*) AS k,
         |  CAST(sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |  CAST((sum(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) * 1048576) // count(*)
         |       AS BIGINT) AS recall_q
         |FROM ($annTopkSql) b
         |LEFT JOIN ($annIvfSql) i ON i.qid = b.qid AND i.nid = b.nid
         |GROUP BY b.qid""".stripMargin,
    // same cells/probe replay as ann_ivf, threshold instead of top-k
    "ann_radius" ->
      s"""$IvfCellsSqlPrefix,
         |qcells AS (SELECT vec_id AS qid, cell FROM assign WHERE vec_id < $NQueries AND rk <= $NProbe),
         |s AS (
         |  SELECT q.qid, c.nid, list_cosine_similarity(qe.emb, ne.emb) AS cos
         |  FROM qcells q JOIN cells c ON q.cell = c.cell AND c.nid <> q.qid
         |  JOIN e qe ON qe.vec_id = q.qid JOIN e ne ON ne.vec_id = c.nid)
         |SELECT qid, nid, round(cos, 4) AS cos
         |FROM s WHERE cos >= $RadiusTau""".stripMargin,
    // per-cell profile over the same cells/cents replay; spreads and
    // threshold-counts only (double mean would be order-sensitive)
    "cluster_stats" ->
      s"""$IvfCellsSqlPrefix,
         |s AS (
         |  SELECT cl.cell, list_cosine_similarity(e.emb, c.ce) AS cos
         |  FROM cells cl JOIN e ON e.vec_id = cl.nid
         |  JOIN cents c ON c.cell = cl.cell)
         |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n,
         |  round(min(cos), 4) AS min_cos, round(max(cos), 4) AS max_cos,
         |  CAST(sum(CASE WHEN cos < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_loose
         |FROM s GROUP BY cell""".stripMargin,
    "embed_norm_stats" ->
      s"""WITH q AS (
         |  SELECT CAST(label AS BIGINT) AS label,
         |    list_sum(list_transform(
         |      list_transform(embedding,
         |        x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)),
         |      y -> y * y)) AS nq
         |  FROM embeddings)
         |SELECT label, count(*) AS n,
         |  CAST(min(nq) AS BIGINT) AS min_nq, CAST(max(nq) AS BIGINT) AS max_nq,
         |  CAST(sum(CAST(nq AS HUGEINT)) // count(*) AS BIGINT) AS avg_nq
         |FROM q GROUP BY label""".stripMargin,
    // cluster-scoped candidates (cells), per-src top-k, reciprocity by
    // reversed-key self-join — the full mutual-kNN replay
    "mutual_knn" ->
      s"""$IvfCellsSqlPrefix,
         |cand AS (
         |  SELECT a.nid AS src, b.nid AS dst,
         |    list_cosine_similarity(ea.emb, eb.emb) AS cos
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.nid <> b.nid
         |  JOIN e ea ON ea.vec_id = a.nid
         |  JOIN e eb ON eb.vec_id = b.nid),
         |tk AS (
         |  SELECT src, dst, cos,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
         |  FROM cand)
         |SELECT x.src AS vec_a, x.dst AS vec_b, round(x.cos, 4) AS cos
         |FROM tk x JOIN tk y
         |  ON x.src = y.dst AND x.dst = y.src AND y.rn <= $MutualK
         |WHERE x.rn <= $MutualK AND x.src < x.dst""".stripMargin,
    // the hyperplanes are just 96 fixed ±1 vectors — embed them as SQL
    // literals (exactly representable doubles) and DuckDB replays the
    // ENTIRE LSH operator: sign-bit keys per table, bucket-candidate
    // join, exact scoring, per-query top-k. The last rows-only ANN row
    // becomes hash-gated; sign flips would need a dot within ~1 ulp of
    // zero (never occurs on the fixture, and both engines accumulate
    // the same doubles).
    "ann_lsh" -> lshReplaySql(s"WHERE q.vec_id < $NQueries", K),
    // same replay, no query filter: EVERY vector ranks its bucket-mates
    "knn_join" -> lshReplaySql("", KnnK, KnnBucketCap),
    "class_centroids" ->
      s"""WITH q AS (
         |  SELECT CAST(label AS BIGINT) AS label, d.d,
         |    CAST(floor(CAST(embedding[d.d + 1] AS DOUBLE) * $QScale.0) AS BIGINT) AS qv
         |  FROM embeddings CROSS JOIN (SELECT CAST(unnest(range($Dim)) AS BIGINT) AS d) d),
         |g AS (SELECT label, d, sum(CAST(qv AS HUGEINT)) AS sq, count(*) AS n
         |      FROM q GROUP BY 1, 2)
         |SELECT label, CAST(max(n) AS BIGINT) AS n_members,
         |  array_to_string(list(CAST(sq // n AS BIGINT) ORDER BY d), ',') AS centroid_q
         |FROM g GROUP BY label""".stripMargin,
    // the knn_join replay (verbatim, as a derived table) wrapped in
    // the vote / tie-break / judge pipeline
    "knn_classify" -> knnClassifySql,
    "knn_calibration" ->
      s"""SELECT n_votes, count(*) AS n_queries,
         |  CAST(sum(correct) AS BIGINT) AS n_correct,
         |  CAST((sum(correct) * 1048576) // count(*) AS BIGINT) AS acc_q
         |FROM ($knnClassifySql) b
         |GROUP BY n_votes""".stripMargin,
    "rank_fusion" -> rankFusionSql,
    "ann_graph" -> graphReplaySql)

  /** Brute-force cosine ranking replay — shared by `ann_topk` and the
    * `ann_recall` evaluator so the ground truth cannot drift. */
  private[operators] def annTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
       |           FROM embeddings WHERE vec_id < $NQueries),
       |c AS (SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ne
       |      FROM embeddings),
       |s AS (SELECT qid, nid, list_cosine_similarity(qe, ne) AS cos FROM q, c WHERE qid <> nid),
       |r AS (SELECT qid, nid, cos,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
       |      FROM s)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $K""".stripMargin

  // IVF is fully SQL-expressible because every piece is
  // deterministic: DuckDB replays seed-centroid selection, the
  // quantized-integer Lloyd mean update (floor onto the 2^-20
  // lattice → exact BIGINT sums → trunc-toward-zero division, all
  // bit-identical across engines), nearest-cell assignment (ties →
  // lower cell), nprobe probing, in-cell scoring, and per-query
  // top-k — the whole LEARNED operator is hash-gated, not just row
  // counts. Shared by `ann_ivf` and the `ann_recall` evaluator.
  private def annIvfSql: String =
    s"""$IvfCellsSqlPrefix,
       |qcells AS (SELECT vec_id AS qid, cell FROM assign WHERE vec_id < $NQueries AND rk <= $NProbe),
       |s AS (
       |  SELECT q.qid, c.nid, list_cosine_similarity(qe.emb, ne.emb) AS cos
       |  FROM qcells q JOIN cells c ON q.cell = c.cell AND c.nid <> q.qid
       |  JOIN e qe ON qe.vec_id = q.qid JOIN e ne ON ne.vec_id = c.nid),
       |r AS (SELECT qid, nid, cos,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
       |      FROM s)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $K""".stripMargin

  /** The full kNN-classify replay (LSH candidate generation, vote
    * count, deterministic tie-broken pick, judged against the stored
    * label) — shared verbatim by `knn_classify` and the
    * `knn_calibration` rollup so both gate the identical classifier. */
  private def knnClassifySql: String =
    s"""WITH votes AS (
       |  SELECT knn.qid, CAST(l.label AS BIGINT) AS nlabel, count(*) AS n
       |  FROM (${lshReplaySql("", KnnK, KnnBucketCap)}) knn
       |  JOIN embeddings l ON l.vec_id = knn.nid
       |  GROUP BY 1, 2),
       |pick AS (
       |  SELECT qid, nlabel AS pred_label, n AS n_votes FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY n DESC, nlabel ASC) AS rn
       |    FROM votes) t WHERE rn = 1)
       |SELECT p.qid, CAST(g.label AS BIGINT) AS true_label, p.pred_label,
       |  p.n_votes,
       |  CAST(CASE WHEN CAST(g.label AS BIGINT) = p.pred_label
       |       THEN 1 ELSE 0 END AS BIGINT) AS correct
       |FROM pick p JOIN embeddings g ON g.vec_id = p.qid""".stripMargin

  /** RRF fusion replay: the `ann_topk` cosine ranking and the
    * `mips_topk` lattice-dot ranking as CTEs, fused by the exact
    * integer 2²⁰ div (60 + rank) formula. */
  private def rankFusionSql: String =
    s"""WITH qd AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
       |            FROM embeddings WHERE vec_id < $NQueries),
       |cd AS (SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ne
       |       FROM embeddings),
       |cosr AS (SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
       |         FROM (SELECT qid, nid, list_cosine_similarity(qe, ne) AS cos
       |               FROM qd, cd WHERE qid <> nid) s),
       |l AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QScale.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |qq AS (SELECT vec_id AS qid, q AS qv FROM l WHERE vec_id < $NQueries),
       |dd AS (SELECT unnest(range($Dim)) AS i),
       |mip AS (SELECT qq.qid, l.vec_id AS nid,
       |          CAST(sum(qq.qv[dd.i + 1] * l.q[dd.i + 1]) AS BIGINT) AS dot
       |        FROM qq JOIN l ON l.vec_id <> qq.qid CROSS JOIN dd
       |        GROUP BY 1, 2),
       |mipr AS (SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid ASC) AS rnk
       |         FROM mip),
       |lists AS (SELECT qid, nid, rnk FROM cosr WHERE rnk <= $K
       |          UNION ALL SELECT qid, nid, rnk FROM mipr WHERE rnk <= $K),
       |fused AS (SELECT qid, nid,
       |            CAST(sum(1048576 // (60 + rnk)) AS BIGINT) AS rrf_q,
       |            count(*) AS n_lists
       |          FROM lists GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid
       |        ORDER BY rrf_q DESC, nid ASC) AS rnk FROM fused)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, rrf_q, n_lists
       |FROM r WHERE rnk <= $K""".stripMargin

  /** `ann_index` shares `ann_ivfpq`'s full replay VERBATIM: the
    * persisted write→search round trip must land on the identical
    * result (same training, probing, ADC, rerank), so one oracle
    * gates both and they cannot drift apart (the simjoin_prefix ≡
    * dedup_ngram precedent). */
  @transient val oracles: Map[String, String] =
    oraclesBase +
      ("ann_index" -> oraclesBase("ann_ivfpq")) +
      // incremental add: training restricted to the base 4/5 of the
      // corpus; assignment/search replayed over ALL vectors with the
      // base-trained artifacts — the add contract, hash-gated
      ("ann_index_add" ->
        ivfPqReplaySql("vec_id < (SELECT (4 * count(*)) // 5 FROM embeddings)"))

  /** Full DuckDB replay of the 16×6 sign-LSH pipeline (hyperplanes as
    * exact ±1.0 VALUES literals → sign-bit keys → bucket-mate
    * candidates → exact cosine → per-query rank), shared by the
    * `ann_lsh` and `knn_join` oracles so the two can't drift. */
  /** Full DuckDB replay of [[annGraph]]: LSH keys → ring-bounded
    * bucket-mate init ([[SimilaritySearch.GraphInitPairCap]], linear
    * in n) → [[SimilaritySearch.DescentRounds]] NN-descent round(s) →
    * stride seeds → four beam hops →
    * exact top-K. Every CTE is `AS MATERIALIZED`: DuckDB inlines CTEs
    * by default and each NN-descent round references its predecessor
    * FOUR times, so the inlined plan re-derives the whole prefix per
    * reference — exponential in round count (measured: 240 s inlined
    * vs 0.9 s materialized at sf0.01, identical 50 rows). */
  private def graphReplaySql: String = {
    // the trained-graph CTE the beam hops walk — generated from
    // DescentRounds so engine and replay share the one constant
    val gcte = s"e$DescentRounds"
    // the init CTE is likewise generated from GraphInitPairCap
    // (r17 flip): the linear ring-bounded init the registered op
    // runs (rank bucket members by vec_id, pair each with its next
    // `cap` in-bucket successors, symmetrize — UNION dedups exactly
    // like the engine's union().distinct())
    val initCte =
      s"""rk AS MATERIALIZED (SELECT vec_id, t, key,
         |    row_number() OVER (PARTITION BY t, key ORDER BY vec_id) AS rn FROM keys),
         |fwdp AS MATERIALIZED (SELECT a.vec_id AS src, b.vec_id AS dst
         |  FROM rk a JOIN rk b ON a.t = b.t AND a.key = b.key
         |    AND b.rn > a.rn AND b.rn <= a.rn + $GraphInitPairCap),
         |cand0 AS MATERIALIZED (SELECT src, dst FROM fwdp
         |  UNION SELECT dst AS src, src AS dst FROM fwdp),""".stripMargin
    def ndRound(r: Int, prev: String): String =
      s"""cand$r AS MATERIALIZED (SELECT src, dst FROM $prev
         |  UNION SELECT a.src, b.dst FROM $prev a JOIN $prev b ON a.dst = b.src AND b.dst <> a.src
         |  UNION SELECT dst AS src, src AS dst FROM $prev
         |  UNION SELECT a.dst AS src, b.dst AS dst FROM $prev a JOIN $prev b ON a.src = b.src AND a.dst <> b.dst),
         |s$r AS MATERIALIZED (SELECT src, dst, list_cosine_similarity(se.emb, de.emb) AS cos
         |  FROM cand$r JOIN e se ON se.vec_id = src JOIN e de ON de.vec_id = dst),
         |e$r AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
         |    FROM s$r) t WHERE rn <= $GraphDeg)""".stripMargin
    def hop(h: Int, prev: String, g: String): String =
      s"""c$h AS MATERIALIZED (SELECT qid, nid FROM $prev
         |  UNION SELECT $prev.qid, g.dst AS nid FROM $prev JOIN $g g ON g.src = $prev.nid),
         |b$h AS MATERIALIZED (SELECT qid, nid FROM (
         |    SELECT c.qid, c.nid,
         |      row_number() OVER (PARTITION BY c.qid
         |        ORDER BY list_cosine_similarity(qq.qe, ne.emb) DESC, c.nid ASC) AS rn
         |    FROM c$h c JOIN q qq ON qq.qid = c.qid JOIN e ne ON ne.vec_id = c.nid
         |    WHERE c.qid <> c.nid) t WHERE rn <= $BeamWidth),""".stripMargin
    s"""WITH planes(t, j, p) AS MATERIALIZED (VALUES $planesLiteral),
       |e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings),
       |bits AS MATERIALIZED (SELECT e.vec_id, pl.t, pl.j,
       |    CASE WHEN list_inner_product(e.emb, pl.p) >= 0 THEN 1 << pl.j ELSE 0 END AS bit
       |  FROM e CROSS JOIN planes pl),
       |keys AS MATERIALIZED (SELECT vec_id, t, CAST(sum(bit) AS BIGINT) AS key FROM bits GROUP BY 1, 2),
       |$initCte
       |s0 AS MATERIALIZED (SELECT src, dst, list_cosine_similarity(se.emb, de.emb) AS cos
       |  FROM cand0 JOIN e se ON se.vec_id = src JOIN e de ON de.vec_id = dst),
       |e0 AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
       |    FROM s0) t WHERE rn <= $GraphDeg),
       |${Rounds.cteChain(DescentRounds)(r => ndRound(r, s"e${r - 1}"))},
       |q AS MATERIALIZED (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < $NQueries),
       |seeds AS MATERIALIZED (SELECT vec_id AS nid FROM e WHERE vec_id % $SeedStride = 0),
       |b0 AS MATERIALIZED (SELECT qid, nid FROM (
       |    SELECT qq.qid, s.nid,
       |      row_number() OVER (PARTITION BY qq.qid
       |        ORDER BY list_cosine_similarity(qq.qe, ne.emb) DESC, s.nid ASC) AS rn
       |    FROM q qq CROSS JOIN seeds s JOIN e ne ON ne.vec_id = s.nid
       |    WHERE qq.qid <> s.nid) t WHERE rn <= $BeamWidth),
       |${hop(1, "b0", gcte)}
       |${hop(2, "b1", gcte)}
       |${hop(3, "b2", gcte)}
       |cf AS MATERIALIZED (SELECT qid, nid FROM b3
       |  UNION SELECT b3.qid, g.dst AS nid FROM b3 JOIN $gcte g ON g.src = b3.nid),
       |sfin AS MATERIALIZED (SELECT c.qid, c.nid, list_cosine_similarity(qq.qe, ne.emb) AS cos
       |  FROM cf c JOIN q qq ON qq.qid = c.qid JOIN e ne ON ne.vec_id = c.nid
       |  WHERE c.qid <> c.nid),
       |r AS (SELECT qid, nid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk FROM sfin)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $K""".stripMargin
  }

  /** The 16×6 hyperplane set as an exact DuckDB VALUES literal —
    * shared by every LSH-replaying oracle. */
  private[operators] def planesLiteral: String =
    planesLiteralFor(NTables, BitsPerTable)

  /** Plane literal for an ARBITRARY (tables × bits) operating point —
    * same fixed-seed stream as the engine's [[makePlanes]], so any
    * banding scheme replays exactly (r17: the dedup_embedding_tight
    * 8×16 oracle). */
  private[operators] def planesLiteralFor(nTables: Int, bits: Int): String =
    makePlanes(nTables * bits).zipWithIndex.map { case (p, i) =>
      s"(${i / bits},${i % bits},[${p.map(v => if (v > 0) "1.0" else "-1.0").mkString(",")}])"
    }.mkString(",")

  private def lshReplaySql(qFilter: String, k: Int,
      ringCap: Int = Int.MaxValue): String = {
    val planeRows = planesLiteral
    // finite ringCap replays the [[SimilaritySearch.KnnBucketCap]]
    // ring init (r17 knn_join flip — the graphReplaySql initCte
    // precedent): rank bucket members by vec_id, pair each with its
    // next `cap` in-bucket successors, symmetrize; UNION dedups like
    // the engine's union().distinct(). Query-bounded replays
    // (ann_lsh) keep the plain bucket join — their candidate mass is
    // already linear in the corpus.
    val candsCte =
      if (ringCap == Int.MaxValue)
        s"""cands AS (
           |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
           |  FROM keys q JOIN keys c ON q.t = c.t AND q.key = c.key AND c.vec_id <> q.vec_id
           |  $qFilter),""".stripMargin
      else {
        require(qFilter.isEmpty, "ring replay is the all-vectors path")
        s"""rk AS (SELECT vec_id, t, key,
           |    row_number() OVER (PARTITION BY t, key ORDER BY vec_id) AS rn FROM keys),
           |fwdp AS (SELECT a.vec_id AS qid, b.vec_id AS nid
           |  FROM rk a JOIN rk b ON a.t = b.t AND a.key = b.key
           |    AND b.rn > a.rn AND b.rn <= a.rn + $ringCap),
           |cands AS (SELECT qid, nid FROM fwdp
           |  UNION SELECT nid AS qid, qid AS nid FROM fwdp),""".stripMargin
      }
    s"""WITH planes(t, j, p) AS (VALUES $planeRows),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |      FROM embeddings),
       |bits AS (
       |  SELECT e.vec_id, pl.t, pl.j,
       |    CASE WHEN list_inner_product(e.emb, pl.p) >= 0 THEN 1 << pl.j ELSE 0 END AS bit
       |  FROM e CROSS JOIN planes pl),
       |keys AS (SELECT vec_id, t, CAST(sum(bit) AS BIGINT) AS key FROM bits GROUP BY 1, 2),
       |$candsCte
       |s AS (
       |  SELECT qid, nid, list_cosine_similarity(qe.emb, ne.emb) AS cos
       |  FROM cands JOIN e qe ON qe.vec_id = qid JOIN e ne ON ne.vec_id = nid),
       |r AS (SELECT qid, nid, cos,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
       |      FROM s)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, round(cos, 4) AS cos
       |FROM r WHERE rnk <= $k""".stripMargin
  }
}
