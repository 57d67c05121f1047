package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedDataset
import graft.StateMode
import graft.functions.SimhashKernel
import graft.functions.VectorFunctions.cosine_sim
import graft.sources.Tables

/** Deduplication suite over the `documents` / `embeddings` fixtures —
  * north-star LLM-pipeline operators (the reference has none of these;
  * SURVEY.md §2.2 last row).
  *
  * The operators, in increasing scale-sophistication:
  *  - exact: content-hash groupBy — one shuffle of (hash, id).
  *  - ngram-jaccard: exact pairwise similarity via shingle self-join —
  *    the oracle-checkable ground truth, hot-shingle-capped
  *    ([[MaxShingleDf]]) so one boilerplate header can't go quadratic.
  *  - minhash LSH: 64-permutation signatures (one imperative
  *    aggregate), 16 bands × 4 rows — the 100 TB path: the only
  *    persisted state is the 520 B/doc sketch; candidates verify
  *    exactly against re-derived shingles of candidate docs only.
  *  - simhash: 64-bit weighted token fingerprint (md5-derived token
  *    hashes) + 4×16-bit pigeonhole banding for hamming ≤ 3, replayed
  *    end-to-end by the DuckDB oracle.
  *  - embedding-cosine: sign-LSH bucketed candidates (32×4, measured
  *    recall 1.0 on the fixture) + exact codegen'd cosine verify; the
  *    all-pairs form survives as spec-side ground truth only.
  *
  * Determinism: every hash is a fixed-seed XxHash64 or md5, so all
  * outputs are bit-stable across runs and partitionings.
  */
object Dedup {

  /** (doc_id, span) rows — one per distinct k-word window per
    * document; documents with fewer than k tokens emit nothing.
    * Typed flatMap over [[TextAnalysis.tokenize]], the Tokenize
    * kernel: the oracle SQL's rule (lower, then split on non-alnum
    * runs, drop empties), lowered per code point and so independent
    * of the executors' default locale. */
  private[operators] def docSpansOf(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { r =>
        val id = r._1
        val toks = TextAnalysis.tokenize(r._2)
        if (toks.length < k) Iterator.empty[(Long, String)]
        else toks.sliding(k).map(w => (id, w.mkString(" "))).toSet.iterator
      }
      .toDF("doc_id", "shingle")
  }

  /** (doc_id, shingle) rows — one per distinct trigram per document. */
  private[operators] def docShinglesOf(docs: DataFrame): DataFrame =
    docSpansOf(docs, 3)

  private[operators] def docShingles(spark: SparkSession, dir: String): DataFrame =
    docShinglesOf(Tables.documents(spark, dir))

  /** Exact dedup: group by content hash, keep the smallest doc_id as
    * representative. At 100 TB this is the cheapest possible dedup:
    * shuffle (16-byte hash, id) pairs only, never the text. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(col("text").cast("binary")).as("text_hash"), col("doc_id"))
      .groupBy("text_hash")
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))

  /** Exact-duplicate rate per crawl source — the corpus-governance
    * rollup over [[dedupExact]]'s verdicts ("which sources are
    * feeding us copies"): per source, doc count, the number of
    * NON-representative exact copies (min-doc_id keeps, the dedup
    * convention), and the duplicate share on the 2²⁰ lattice. Each
    * engine groups by ITS OWN content hash — the hashes never cross
    * the oracle boundary, so cross-engine hash equality is not
    * required (the dedup_exact rule).
    *
    * Scale shape: the hashed projection (16-byte hash, id, source —
    * never text) persists once; representative choice is one
    * partial+final min on the hash key, the verdict join reuses the
    * same partitioning, and the source rollup is a second
    * partial+final fold. */
  def dedupBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("h"))
      .repartition(col("h")).persistScoped()
    val reps = d.groupBy(col("h")).agg(min(col("doc_id")).as("rep"))
    d.join(reps, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("rep"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        expr("cast((cast(n_dups as decimal(38,0)) * 1048576) div n_docs as bigint)")
          .as("dup_share_q"))
  }

  private def dedupBySourceSql: String =
    """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
      |r AS (SELECT h, min(doc_id) AS rep FROM d GROUP BY 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
      |  CAST((CAST(sum(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS HUGEINT)
      |        * 1048576) // count(*) AS BIGINT) AS dup_share_q
      |FROM d JOIN r USING (h)
      |GROUP BY source""".stripMargin

  /** Shingles appearing in more than this many documents are dropped
    * from the [[dedupNgramJaccard]] universe before the self-join. A
    * single boilerplate shingle in d docs contributes d² join rows —
    * one hot header at 100 TB turns the exact join into a cartesian
    * blowup. Dropping ultra-common shingles is standard corpus-dedup
    * practice (they carry no near-dup signal: sharing a shingle that a
    * million docs share is not evidence of duplication). The cap
    * bounds the join fan-out at cap² per shingle. On the test fixture
    * no shingle reaches 0.2×cap (PipelineOpsSpec's headroom test
    * proves the guard is a no-op there), so the oracle stays
    * hash-exact. */
  private[operators] val MaxShingleDf = 1000L

  /** The hot-capped (doc_id, sh) shingle-hash universe shared by the
    * exact Jaccard join and the prefix-filtered similarity join.
    * Joins ride the 8-byte shingle hash, not the string: same pair
    * counts (64-bit collision odds are negligible) at a fraction of
    * the shuffle bytes and comparison cost. Persisted because each
    * consumer reads it 3–4 times (df guard, join sides, per-doc
    * counts); Spark's cache manager dedups by plan equality so
    * repeated calls share one entry (~8 bytes+id per shingle). Batch
    * drivers can spark.catalog.clearCache() between workloads.
    * Hot-shingle guard: the >cap list is tiny (it cannot exceed
    * total_shingles/cap entries), so the anti-join broadcasts. The
    * capped universe is persisted too — without its own cache each
    * consumer would re-run the full-shuffle df aggregation +
    * anti-join from shAll's cache. */
  private[operators] def cappedShingleUniverse(
      spark: SparkSession, dir: String): DataFrame = {
    val shAll = docShingles(spark, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .persistScoped()
    val hot = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select("sh")
    shAll.join(hot, Seq("sh"), "left_anti")
      .persistScoped()
  }

  /** Exact pairwise n-gram Jaccard ≥ 0.8 via shingle self-join.
    * Ground truth for the approximate variants. The shingle self-join
    * is the scan→shuffle pattern that explodes on hot shingles at
    * scale — SURVEY.md's reason the minhash path exists; the
    * [[MaxShingleDf]] guard (counts AND intersections both computed on
    * the capped universe, so the Jaccard stays internally consistent)
    * bounds that blowup. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingleUniverse(spark, dir)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(cnt.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("ca.n") + col("cb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Asymmetric n-gram CONTAINMENT join — doc-IN-doc detection:
    * C(a→b) = |S(a)∩S(b)| / |S(a)| ≥ 3/5. The metric symmetric
    * Jaccard structurally misses: a short document quoted inside a
    * long one has tiny Jaccard (the union is dominated by the long
    * doc) but containment ≈ 1 — the quote/boilerplate/subset-dup
    * case a training-corpus pipeline must catch separately from
    * near-dup pairs. Both directions are emitted ((small→big) scores
    * high, (big→small) low), candidates come from the same capped
    * shared-shingle join as `dedup_ngram` (lossless: C ≥ τ > 0
    * implies ≥1 shared shingle), and the threshold is the rational
    * 3/5 in LONG arithmetic (5·inter ≥ 3·n — a double 0.6 multiply
    * mis-rounds exact boundary sizes, the simjoin_prefix lesson).
    * Scale shape: identical to `dedup_ngram` (shingle-hash shuffle,
    * hot-shingle cap, never text) — only the denominator differs. */
  def ngramContainment(spark: SparkSession, dir: String): DataFrame =
    ngramContainmentOf(cappedShingleUniverse(spark, dir))

  private[operators] def ngramContainmentOf(sh: DataFrame): DataFrame = {
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(cnt.as("ca"), col("doc_a") === col("ca.doc_id"))
      .filter(lit(5L) * col("inter") >= lit(3L) * col("ca.n"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / col("ca.n")).as("containment"))
  }

  /** Prefix-filtered set-similarity join at Jaccard ≥ 4/5 — the
    * classic sub-quadratic EXACT alternative to both the all-pairs
    * shingle join and approximate banding (parallel set-similarity
    * joins in MapReduce; cf. the reference's all-pairs text shuffle
    * it replaces). Every token set is ordered by GLOBAL document
    * frequency ascending (rarest first, hash tie-break) and only the
    * first `n - ceil(τ·n) + 1` tokens of each set index candidates:
    * the prefix lemma guarantees two sets with Jaccard ≥ τ (after the
    * τ·max(na,nb) ≤ min(na,nb) length filter) share a prefix token,
    * so candidate generation is LOSSLESS — this query returns
    * bit-identically `dedup_ngram`'s output, which is exactly what
    * the shared oracle checks. Scale shape: prefix tokens are by
    * construction the globally RAREST, so per-token join fan-out is
    * minimal where the plain self-join explodes on hot shingles; the
    * candidate self-join shuffles (sh, doc_id, n) longs only, and
    * exact verification touches only candidate docs. τ is kept as
    * the rational 4/5 in LONG arithmetic (5·na ≥ 4·nb length filter,
    * prefix length n - (4n+4) div 5 + 1): a double 0.8 multiply
    * mis-rounds exact boundary sizes (0.8×5 > 4 in IEEE), which
    * would silently drop true boundary pairs. */
  def simjoinPrefix(spark: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingleUniverse(spark, dir)
    // r18 verify rework (the dedup_fuzzy/knn_join lesson, third
    // site): the old verify re-joined each candidate pair against
    // the shingle universe and SHUFFLED the per-pair shingle fan-out
    // (Σ |S(a)| over pairs — 430M rows at the 100× lab corpus, ~99×
    // the 4.35M candidate pairs it served) into a pair-keyed count.
    // Instead, fold each doc's capped shingle-hash set into ONE
    // sorted array row (43M → 500k rows at 100×; sets are distinct
    // per doc by construction, docSpansOf's toSet), attach the two
    // arrays to each candidate pair, and take the exact intersection
    // size per pair with the codegen'd array_intersect — the verify
    // becomes candidate-mass work (r18 cost split,
    // OPTIMIZATION_r18.md: verify was ~3/4 of the wall). Counts and
    // intersections still both come from the capped universe, so the
    // Jaccard stays internally consistent and the long→double
    // division is bit-identical to the fan-join form the oracle
    // replays.
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("shs"), count(lit(1)).as("n"))
    val cand = simjoinPrefixCandidates(spark, dir)
    cand
      .join(sets.select(col("doc_id").as("doc_a"),
        col("shs").as("sa"), col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("shs").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** Candidate pairs the prefix filter generates — [[simjoinPrefix]]'s
    * generation stage, exposed for the sub-quadratic assertion in
    * PipelineOpsSpec (candidates ≪ n²/2). The two calls share the
    * persisted universe via plan-equality cache dedup. */
  private[graft] def simjoinPrefixCandidates(
      spark: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingleUniverse(spark, dir)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // per-doc rarest-first order; the vocabulary join shuffles once on
    // sh, then ordering + prefix slice are per-doc local work
    val prefix = sh.join(dfreq, "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ordered"),
        count(lit(1)).as("n"))
      .select(col("doc_id"), col("n"),
        explode(slice(col("ordered"), lit(1),
          (col("n") - expr("(n*4 + 4) div 5") + 1).cast("int"))).as("p"))
      .select(col("doc_id"), col("n"), col("p.sh").as("sh"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 5 >= col("b.n") * 4 && col("b.n") * 5 >= col("a.n") * 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private val NumPerms = 64
  private val Bands = 16
  private val RowsPerBand = NumPerms / Bands // 4
  private val SeedBase = 0x9E3779B9L

  /** (doc_id, h0) — 8-byte shingle hashes, computed per use from the
    * scan (codegen'd XxHash64 over the string). Deliberately NOT
    * persisted: it is the same order of magnitude as the input text
    * (~8 B per shingle), so caching it would make the "sketch" cache
    * O(input) — re-scanning is the 100 TB-honest trade. */
  private def shingleHashes(spark: SparkSession, dir: String): DataFrame =
    docShingles(spark, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h0"))

  /** MinHash sketch: 64 permutation minima + the doc's shingle count,
    * ONE groupBy over one shingle scan. Each of the 64 permutations
    * re-hashes the 8-byte base value — fixed-width long hashing, ~10×
    * cheaper than hashing the string per permutation. The signature
    * is a single [[graft.functions.MinhashSigAgg]] imperative
    * aggregate (bit-identical to 64 declarative `min(xxhash64Seeded)`
    * columns, but without their several-thousand-line codegen class —
    * see its scaladoc for the measured first-run cost); Catalyst
    * plans partial+final, so the shuffle carries 65 longs per doc per
    * partition, never per shingle. The sketch is 520 B/doc ≈ 10⁻⁴ of
    * the input bytes — persisting it (done in [[dedupMinhash]]) is
    * genuinely cheap. */
  def minhashSketch(spark: SparkSession, dir: String): DataFrame =
    shingleHashes(spark, dir)
      .groupBy("doc_id")
      .agg(
        graft.functions.MinhashSigAgg.minhash_sig(col("h0"), SeedBase, NumPerms).as("sig"),
        count(lit(1)).as("n"))

  /** (doc_id, band_keys, band_idx, band_key) LSH banding of a sketch
    * — shared by the self-join ([[dedupMinhash]]) and two-sided
    * ([[dedupIncremental]]) paths. Band keys are codegen'd multi-arg
    * hashes of the 4 signature columns, not string concats; each band
    * row keeps the doc's whole key array for [[Refine.bucketPairs]]'
    * pair ownership. */
  private[operators] def bandsOf(sketch: DataFrame): DataFrame = {
    val bandKeys = (0 until Bands).map(b =>
      xxhash64((0 until RowsPerBand).map(r =>
        element_at(col("sig"), b * RowsPerBand + r + 1)): _*))
    Refine.bucketRows(sketch.select(col("doc_id"), array(bandKeys: _*).as("band_keys")),
      BandBucket)
  }

  /** The bucket columns of [[bandsOf]], for [[Refine.bucketPairs]]. */
  private val BandBucket = ("band_idx", "band_key", "band_keys")

  /** MinHash + LSH near-dup pairs, exact-verified.
    * Banding: 16 bands × 4 rows ⇒ P(candidate) = 1-(1-j⁴)¹⁶ — at
    * j=0.98 a miss is ~1e-18, so on this corpus the output equals the
    * exact ngram-jaccard result (same SQL oracle). Candidates are
    * band-mates ([[Refine.bucketPairs]]) verified exactly by
    * [[minhashVerified]], so a band collision can never produce a
    * false positive.
    *
    * Scale shape: the ONLY persisted state is the 520 B/doc sketch.
    * Band keys stay Column expressions over the cached sketch — a
    * typed-closure variant was MEASURED SLOWER here (8.1 s vs 5.8 s
    * first-run): SerializeFromObject hides size statistics, so the
    * band self-join loses its broadcast and falls back to a
    * sort-merge shuffle. Opposite trade from the LSH planes/shingle
    * closures — closures win when expression COUNT explodes codegen,
    * lose when they sit where Catalyst needs stats. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sketch = minhashSketch(spark, dir)
      .persistScoped()
    val bands = bandsOf(sketch)
    val cands = Refine.bucketPairs(bands, bands, BandBucket, "doc_id",
      Some(_ < _))((a, b) => Seq(a.as("doc_a"), b.as("doc_b")))
    minhashVerified(spark, dir, sketch, cands, ("doc_a", "doc_b"))
  }

  /** Exact verify step of the MinHash operators: (a, b, jaccard ≥ 0.8)
    * over a candidate pair list whose id columns are named by `pair`.
    * The semi-join to the candidate doc ids (a broadcast-sized list in
    * any realistic near-dup regime) sits BELOW the tokenizer, so the
    * second pass re-shingles only candidate docs — the scan streams all
    * rows but the CPU-heavy flatMap and the pair-intersection groupBy
    * touch the (tiny) near-dup subset only. The
    * re-derived shingle hashes are persisted because they feed BOTH
    * sides of the intersection join (uncached, the re-shingling runs
    * twice), and exact per-doc set sizes ride the sketch (`n`), so no
    * second full aggregation is needed. */
  private def minhashVerified(spark: SparkSession, dir: String, sketch: DataFrame,
      candidates: DataFrame, pair: (String, String)): DataFrame = {
    val (a, b) = pair
    val cands = candidates.persistScoped()
    val candDocs = cands.select(col(a).as("doc_id"))
      .union(cands.select(col(b).as("doc_id")))
      .distinct()
    val shc = docShinglesOf(
        Tables.documents(spark, dir).join(candDocs, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h0"))
      .persistScoped()
    val inter = cands
      .join(shc.as("sa"), col(a) === col("sa.doc_id"))
      .join(shc.as("sb"),
        col(b) === col("sb.doc_id") && col("sa.h0") === col("sb.h0"))
      .groupBy(a, b)
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sketch.select(col("doc_id"), col("n")).as("ca"), col(a) === col("ca.doc_id"))
      .join(sketch.select(col("doc_id"), col("n")).as("cb"), col(b) === col("cb.doc_id"))
      .select(col(a), col(b),
        (col("inter") / (col("ca.n") + col("cb.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** INGESTION-TIME near-dup screening — the production shape of
    * minhash dedup: an incoming batch (here the deterministic slice
    * doc_id % 10 = 0, ~10% of the corpus) is checked against the
    * EXISTING corpus without re-deduplicating the corpus against
    * itself. The band join is two-sided (new bands ⋈ corpus bands),
    * so its cost is |batch| × bucket-mates, not corpus²; at 100 TB
    * the corpus side of the join is the stored 520 B/doc sketch
    * table — the whole point of persisting sketches is that
    * ingestion never re-reads corpus text, and only CANDIDATE corpus
    * docs are re-shingled by the shared verify step. Output:
    * (doc_new, doc_old, jaccard ≥ 0.8) — the evidence rows an
    * ingestion gate would act on. Oracle: the exact-Jaccard pair
    * relation restricted to cross-side pairs (recall 1.0 on this
    * corpus, same argument as [[dedupMinhash]]). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val sketch = minhashSketch(spark, dir)
      .persistScoped()
    val bands = bandsOf(sketch)
    val cands = Refine.bucketPairs(bands.filter(col("doc_id") % 10 === 0),
        bands.filter(col("doc_id") % 10 =!= 0), BandBucket, "doc_id",
        None)((a, b) => Seq(a.as("doc_new"), b.as("doc_old")))
    minhashVerified(spark, dir, sketch, cands, ("doc_new", "doc_old"))
  }

  /** The (doc_id, simhash) fingerprint table: 64-bit SimHash per doc,
    * token-frequency weighted, one [[graft.functions.Simhash]] kernel
    * call per document over its tokens, so the table is a projection
    * of the scan with no shuffle. A token's hash is the first 8 bytes
    * of its MD5 as a long, the form the DuckDB oracle replays
    * chunk-wise from the hex digest. A document without tokens has no
    * fingerprint and no row: the tokens explode as a one-element array,
    * or as NULL when empty, since Catalyst would push a filter on their
    * count down to the scan as a second tokenize. */
  def simhashes(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.toksOf(col("text")).as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) > 0, array(col("toks")))).as("toks"))
      .select(col("doc_id"), SimhashKernel.simhash(col("toks")).as("simhash"))

  /** Near-dup pairs at hamming ≤ 3 over [[simhashes]], found by
    * 4×16-bit pigeonhole banding — the standard crawl-dedup
    * configuration: a pair within hamming 3 must agree exactly on ≥1
    * of 4 disjoint chunks, so the chunk join ([[Refine.bucketPairs]])
    * finds all of them without an all-pairs scan, and the
    * bit_count(xor) predicate inside it removes chunk-collision false
    * positives. Oracle-gated end to end: the DuckDB SQL replays
    * tokenize → weights → bit votes → chunk banding → hamming, so the
    * registered row checks the simhash operator itself, not just row
    * counts.
    *
    * Operating point measured on the fixture: planted shingle-level
    * near-dups sit at hamming 0–5 but the corpus's token-frequency
    * background crowds in from hamming 4 (45 pairs at 5, 301 at 7), so
    * ≤ 3 is the precision-preserving threshold; recall vs the
    * shingle-Jaccard ground truth is ~0.6 — SimHash's documented
    * weakness vs MinHash when near-dup is defined on shingles, which
    * is why both operators exist. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val chunkKeys = array((0 until 4).map(c =>
      shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*)
    val chunk = ("chunk_idx", "chunk_key", "chunk_keys")
    val chunks = Refine.bucketRows(
      simhashes(spark, dir).select(col("doc_id"), col("simhash"), chunkKeys.as("chunk_keys")), chunk)
    val hamming = bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long")
    Refine.bucketPairs(chunks, chunks, chunk, "doc_id",
        Some((a, b) => a < b && hamming <= 3))(
        (a, b) => Seq(a.as("doc_a"), b.as("doc_b"), hamming.as("hamming")))
  }

  /** Embedding dedup LSH operating point: 32 tables × 4-bit keys.
    * Chosen by measurement against the fixture's exact pair set
    * (cos ∈ [0.45, 0.60], the HARD regime for sign-LSH): 32×4 finds
    * every exact pair at both sf0.01 (14/14) and sf0.1 (144/144) with
    * an expected ~6 shared tables per pair at the 0.45 boundary
    * (P(table match) = 0.65⁴ ≈ 0.18; miss ≈ 0.82³² ≈ 8·10⁻⁴), while
    * 16×6 — the ann_topk operating point — misses ~40%. */
  private val EmbTables = 32
  private val EmbBits = 4

  /** Sign-LSH candidate pairs (vec_a < vec_b, each once) over an
    * arbitrary (vec_id, embedding) relation and banding scheme: the
    * [[Refine.bucketPairs]] self-join of [[Similarity.embeddingKeyedOf]].
    * At real near-dup thresholds the right operating point is FEW
    * tables × LONG keys (e.g. 8×16 — random pairs collide at
    * ~2⁻¹⁶/table while cos ≥ 0.99 pairs still share a table w.h.p.),
    * and DedupScaleSpec plants a clustered corpus to assert the
    * resulting candidate volume is ≪ n²/2 with zero lost pairs. */
  private[graft] def embeddingCandidatesOf(
      emb: DataFrame, nTables: Int, bits: Int): DataFrame = {
    val keyed = Similarity.embeddingKeyedOf(emb, nTables, bits)
    Refine.bucketPairs(keyed, keyed, Similarity.SignBucket, "vec_id",
      Some(_ < _))((a, b) => Seq(a.as("vec_a"), b.as("vec_b")))
  }

  // the τ ≥ 0.8 operating point: FEW tables × LONG keys — random
  // pairs collide at ~2⁻¹⁶/table while near-dup pairs still share a
  // table w.h.p. (the DedupScaleSpec planted-cluster proof)
  private val EmbTightTables = 8
  private val EmbTightBits = 16

  /** Embedding-cosine near-dup pairs (cos ≥ `tau`) at a (tables ×
    * bits) sign-LSH operating point: candidates are pairs sharing ≥1
    * sign-bucket key ([[embeddingCandidatesOf]]), verified with the
    * codegen'd cosine expression, so every surviving pair is exact.
    *
    * Scale shape: no BroadcastNestedLoopJoin — the candidate join
    * shuffles narrow (table, key, id, key-array) rows, partitioned by
    * bucket key, spillable and AQE-skew-splittable, and emits each
    * pair once from the first table it shares, so no pair aggregate
    * follows it. The candidates are the
    * Σ bucket² side, so vectors attach through the size-gated
    * broadcast ([[Similarity.vecHinted]], the r16 descent-build
    * lesson) and the pair shuffle carries ids, never vectors. Honest
    * caveat: at a mid-similarity threshold like 0.45 on an
    * unclustered corpus, bucket occupancy keeps candidate volume
    * near-quadratic — the sub-quadratic win arrives at real near-dup
    * thresholds (τ ≥ 0.8, where matching pairs concentrate in far
    * fewer buckets) and on clustered corpora; what the formulation
    * removes at ANY τ is the broadcast-the-whole-table memory hazard
    * of the BNLJ. */
  private def embeddingDedupOn(emb: DataFrame, nTables: Int, bits: Int,
      tau: Double): DataFrame =
    embeddingCandidatesOf(emb.select(col("vec_id"), col("embedding")), nTables, bits)
      .join(Similarity.vecHinted(
        emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))), "vec_a")
      .join(Similarity.vecHinted(
        emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))), "vec_b")
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= tau)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))

  /** Embedding near-dup pairs (cos ≥ 0.45) at the 32×4 operating
    * point: on the fixture the candidate set provably contains every
    * exact pair (see [[EmbTables]]), so the output hash-matches the
    * all-pairs oracle. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    embeddingDedupOn(Tables.embeddings(spark, dir), EmbTables, EmbBits, 0.45)

  /** TRUE near-dup embedding pairs (cos ≥ 0.8) at the sub-quadratic
    * LSH operating point: 8 tables × 16-bit sign keys, so bucket
    * mass over a non-adversarial corpus is ~n²/2¹⁶ per table instead
    * of [[dedupEmbedding]]'s near-all-pairs (counts2 priced the 32×4
    * point at 41.7G pairs at the 100× corpus). APPROXIMATE by
    * construction — a pair outside every shared bucket is unseen;
    * the operating point is built for the cos ≥ 0.9 mass where
    * banding is effectively lossless. Every fixture has ZERO
    * cos ≥ 0.8 pairs (max fixture cos 0.5128), so the registered gate
    * runs it over a planted corpus ([[dedupEmbeddingTightPlanted]]);
    * DedupScaleSpec's planted-cluster test asserts the output EQUALS
    * the planted truth with candidates ≪ n²/2. */
  def dedupEmbeddingTightOn(emb: DataFrame): DataFrame =
    embeddingDedupOn(emb, EmbTightTables, EmbTightBits, 0.8)

  // fixture synthesis for the registered tight-dedup gate: the id
  // stride parks planted copies beyond every fixture id space, and
  // the zero-prefix widths place planted pair cosines at ~1.0 /
  // ~0.99 / ~0.98 (the operating point's near-lossless mass) and
  // ~0.79 (straddling the τ=0.8 threshold from below)
  private[graft] val PlantStride = 1L << 20
  private[graft] val PlantZeroCounts = Seq(0, 1, 2, 24)

  /** The planted cos ≥ 0.8 corpus that makes the tight operating point
    * registry-gateable: every driver fixture's max pairwise cosine is
    * 0.5128, so the tight op over raw fixtures is permanently empty —
    * vacuous evidence. This derives a DETERMINISTIC superset in-query:
    * every 4th vector gains a copy with its first m coordinates
    * zeroed (m cycling through [[PlantZeroCounts]]), an exact float
    * operation both engines replay bit-for-bit, giving cos(v, v′) =
    * √(1 − Σ_{i<m} v_i²/‖v‖²) — a planted near-dup mass spanning
    * exact duplicates down to just-below-threshold distractors.
    * Fixture-synthesis surface, not a production operator: real
    * corpora call [[dedupEmbeddingTightOn]] directly. */
  private[graft] def embPlantedTight(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val mCase = PlantZeroCounts.zipWithIndex
      .map { case (m, i) => s"WHEN $i THEN $m" }.mkString(" ")
    val copies = e.filter(col("vec_id") % 4 === 0)
      .withColumn("m", expr(s"CASE CAST((vec_id DIV 4) % 4 AS INT) $mCase END"))
      .select((col("vec_id") + PlantStride).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i < m, CAST(0.0 AS FLOAT), x))")
          .as("embedding"))
    e.unionByName(copies)
  }

  /** [[dedupEmbeddingTightOn]] over the planted corpus — the
    * registered CORRECTNESS gate for the τ ≥ 0.8 / 8×16 scale
    * operating point (r18, VERDICT r17 missing 1). The oracle replays
    * the planting AND the full LSH pipeline (planes generated from
    * the same constants), so approximation-by-construction is part of
    * the contract on both sides; DedupScaleSpec asserts the recall
    * floors against the brute-force truth per SF. */
  def dedupEmbeddingTightPlanted(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingTightOn(embPlantedTight(spark, dir))

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embeddings with the IVF coarse
    * quantizer ([[Similarity.cellAssignments]] — the SAME learned
    * centroids as `ann_ivf`, so the two operators share one trained
    * artifact), then score cosine only WITHIN each cluster and mark
    * every member that has a lower-id cluster-mate at cos ≥ 0.45 as
    * the semantic duplicate (keep the lowest id per dup pair — the
    * deterministic stand-in for the paper's keep-low-centroid-sim
    * rule). Approximate BY CONSTRUCTION: cross-cluster near-dups are
    * unseen — that is the trade that makes the op linear-ish where
    * [[dedupEmbedding]]'s LSH tables pay Σ bucket² across 16 tables.
    *
    * Output is a per-vector verdict (vec_id, cell, is_dup) — the
    * keep-manifest shape a pipeline filters by, not a pair list.
    *
    * Scale shape: one narrow assignment pass, one shuffle of
    * (vec_id, cell, embedding) co-locating each cluster, intra-cell
    * self-join bounded by Σ cell²; the dup-id set joins back LEFT so
    * every vector appears exactly once. Hot cells are the same skew
    * trade as LSH buckets — AQE skew-split territory. At the fixed
    * [[Similarity.NCells]] the Σ cell² mass is quadratic in the
    * corpus (124,729 → 1.26G pairs from 1× to 100×), while cells ∝
    * corpus measured ~linear (14.4M at 100×) but cost more wall up to
    * 100× (18.9 s vs 3.3 s: assignment is n × cells cosines), so the
    * shared 16-cell quantizer stays (PLANS.md §"Round 17", counts2
    * and batch-2 tables; the paper runs 50k clusters at web scale). */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    dedupSemanticOf(Similarity.cellAssignments(spark, dir)
      .join(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), "vec_id"))

  /** Verdict over any (vec_id, cell, embedding) frame — the planted
    * EdgeCaseSpec surface. */
  private[operators] def dedupSemanticOf(tagged: DataFrame): DataFrame = {
    val t = tagged.persistScoped()
    val dupIds = t.as("a")
      .join(t.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine_sim(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= 0.45)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    t.join(dupIds.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        coalesce(col("hit"), lit(0L)).as("is_dup"))
  }

  /** Near-dup cluster assignment: connected components over the
    * verified pair graph, labels = min doc_id per component — the step
    * that turns pairwise near-dup hits into keep/drop decisions (keep
    * the representative, drop the rest), and the one genuinely
    * ITERATIVE operator in the pipeline.
    *
    * Algorithm: min-label propagation WITH pointer doubling. Each
    * round every node takes `min(own label, min over neighbours'
    * labels, label of its own label)` — the last term is the
    * pointer-doubling shortcut (Shiloach–Vishkin style; the DataFrame
    * shape of the star-contraction family in Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): the distance a
    * label still has to travel halves every round, so fixpoint is
    * reached in O(log diameter) rounds instead of O(diameter) — a
    * planted 64-node chain converges in ≤ 8 rounds
    * (CorpusSpec asserts this). The fixpoint (min id per component) is
    * unique, so the result is deterministic regardless of partitioning
    * or join order. The 32-round cap is a safety rail (it covers
    * diameters beyond 2^31); reaching it throws rather than silently
    * emitting unconverged labels.
    *
    * Scale/driver shape — each round is ONE Spark job:
    *  - state is (id, label) longs — 16 B/node over candidate docs
    *    only, NOT the corpus; edges are materialized once via
    *    `localCheckpoint` and reused every round;
    *  - each round's labels are `localCheckpoint`ed, which BOTH caches
    *    them and truncates lineage — without truncation the logical
    *    plan doubles per round and Catalyst re-analysis dominates
    *    (measured: 11.7 s → ~3 s at sf0.1);
    *  - convergence is read from a changed-label count aggregated over
    *    the just-checkpointed state in the same job that materializes
    *    it (lazy checkpoint + one agg action — no second scan of
    *    un-cached lineage);
    *  - the tiny label state runs at [[ClusterParts]] partitions —
    *    32 shuffle partitions of ~100 rows each is pure scheduler
    *    overhead; on a real cluster raise it toward the input
    *    parallelism (it only bounds the CC state, not the corpus scan),
    *    and swap `localCheckpoint` for `checkpoint(dir)` if executor
    *    loss must be survivable mid-loop. */
  def dedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("lab"))
    clusterLabels(spark, dir)
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"),
        col("cluster_size"))
  }

  /** Near-dup cluster-size histogram — the dedup-health rollup a
    * corpus pipeline trends per crawl ("is boilerplate mass growing;
    * did a template farm land"): from the SAME converged components
    * as [[dedupCluster]], the count of clusters at each size and the
    * doc mass they bind. A size-2 spike is organic duplication; a
    * long tail of large clusters is templated spam. Scale shape:
    * [[clusterLabels]] is bounded by the near-dup rate, never the
    * corpus; both folds here are metadata-scale partial+final
    * aggregates on top of it. */
  def dupClusterHist(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .groupBy(col("lab")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** Near-duplicate rate per language — the slice-level dedup
    * governance metric ("is the boilerplate concentrated in one
    * language's crawl"): per lang, the doc count, the docs that are
    * NON-REPRESENTATIVE members of a near-dup cluster (cluster_id ≠
    * own id — exactly [[graft.operators.Corpus.corpusClean]]'s
    * duplicate rule), and the duplicate share on the 2²⁰ lattice.
    * Scale shape: the label set is bounded by the near-dup rate so
    * it BROADCASTS against the corpus scan (the corpus_clean
    * orientation); the lang rollup is one partial+final fold. */
  def dedupRateByLang(spark: SparkSession, dir: String): DataFrame = {
    val dups = clusterLabels(spark, dir)
      .filter(col("lab") =!= col("id"))
      .select(col("id").as("doc_id"), lit(1L).as("is_dup"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(broadcast(dups), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_dups"))
      .select(col("lang"), col("n_docs"), col("n_dups"),
        expr("cast((n_dups * cast(1048576 as bigint)) div n_docs as bigint)")
          .as("dup_share_q"))
  }

  /** The converged (id, lab) assignment over near-dup CANDIDATE docs
    * only — the shared core of [[dedupCluster]] / [[dedupKeep]] /
    * [[graft.operators.Corpus.corpusClean]]. Consumers that don't
    * need per-cluster sizes join THIS (and skip [[dedupCluster]]'s
    * window): the label set is bounded by the near-dup rate, never
    * the corpus, so downstream joins against it are broadcastable. */
  private[operators] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    propagateMinLabels(pairs)._1
  }

  /** Partition count for the (tiny) CC label state — candidate near-dup
    * docs only, never the corpus. See [[dedupCluster]] scaladoc. */
  private val ClusterParts = 8

  /** Core pointer-doubling min-label loop over an undirected pair list
    * (columns `doc_a`, `doc_b`). Returns (labels(id, lab), rounds).
    * Exposed package-private so specs can drive it with planted graph
    * shapes (long chains) that the fixture's tiny components never
    * exercise. */
  private[operators] def propagateMinLabels(pairs: DataFrame): (DataFrame, Int) = {
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .repartition(ClusterParts)
      .transform(StateMode.cut(_))
    // seed: lab₀ = min(id, min incident neighbour) — one groupBy, the
    // same shuffle a plain distinct() would cost, but it bakes the
    // first propagation round into initialization for free
    val seeded = Rounds.cut(edges.groupBy(col("doc_a").as("id"))
      .agg(min(col("doc_b")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("lab")))
    Rounds.untilStable(32, "propagateMinLabels")(seeded) { (labels, round) =>
      // message-union shape: one row per (node, candidate label), one
      // shuffle groupBy computes the min — cheaper than join-back.
      // `own` survives only on the self row (exactly one per id), so
      // max(own) recovers the previous label for the convergence test.
      val self = labels.select(col("id"), col("lab"), col("lab").as("own"))
      val nbrMsg = edges.join(labels, edges("doc_b") === labels("id"))
        .select(edges("doc_a").as("id"), col("lab"),
          lit(null).cast("long").as("own"))
      // pointer doubling: each node also reads its label's label.
      // Round 0 runs WITHOUT the hop join: the seed just applied one
      // propagation step, and on near-dup graphs (tiny components)
      // round 0 is usually the already-converged check — skipping the
      // hop keeps it one join cheaper; on deep graphs the skip costs
      // at most one extra round (correctness is unaffected: the hop
      // only accelerates a monotone min-fixpoint)
      val msgs =
        if (round == 0) self.unionByName(nbrMsg)
        else {
          val hopMsg = labels.select(col("id").as("hid"), col("lab").as("hlab"))
            .join(labels.select(col("id").as("pid"), col("lab").as("plab")),
              col("hlab") === col("pid"))
            .select(col("hid").as("id"), col("plab").as("lab"),
              lit(null).cast("long").as("own"))
          self.unionByName(nbrMsg).unionByName(hopMsg)
        }
      msgs.groupBy(col("id"))
        .agg(min(col("lab")).as("new_lab"), max(col("own")).as("lab"))
    } { (_, next) =>
      // this agg is the action that materializes the lazy cut: one
      // job per round computes next AND the convergence signal
      val changed = next
        .agg(sum(when(col("new_lab") < col("lab"), 1L).otherwise(0L)).as("c"))
        .first()
      (next.select(col("id"), col("new_lab").as("lab")),
        changed.isNullAt(0) || changed.getLong(0) == 0L)
    }
  }

  private val SpanK = 5

  /** Cross-document repeated-span report — the span-level (exact
    * substring) complement to the doc-level Jaccard suite: for every
    * document, how many of its distinct [[SpanK]]-word spans also
    * occur in at least one OTHER document. This is the primitive
    * behind exact-substring training-data dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * memorized boilerplate/passages repeat verbatim across documents
    * that are NOT near-duplicates as a whole, so doc-level Jaccard
    * never sees them. The report ranks documents by how much of their
    * content is corpus-repeated (dup_ratio → candidate for span
    * removal or down-weighting).
    *
    * Scale shape: spans ride as 8-byte xxhash64 keys from the typed
    * tokenizer flatMap (never the span text); per-span doc counts and
    * per-doc totals are partial+final aggregations; the shared-span
    * membership is a left-semi join on the hash. The span stream is
    * persisted once and feeds all three consumers — at 100 TB this is
    * one scan of the corpus plus shuffles of (id, hash) longs. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val spans = docSpansOf(Tables.documents(spark, dir), SpanK)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .persistScoped()
    // spans are distinct per doc, so count(*) per hash = document count
    val shared = spans.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val totals = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val dups = spans.join(shared, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    totals.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio", col("n_dup_spans").cast("double") / col("n_spans"))
  }

  /** The actionable end of the dedup pipeline: a keep/drop manifest
    * over the WHOLE corpus. Members of a near-dup cluster
    * ([[dedupCluster]]) keep only their representative (the min-id
    * label); every non-candidate document is its own singleton cluster
    * and is kept. Filtering `keep = 1` materializes the deduplicated
    * corpus — pairs → clusters → decisions, closed under one oracle.
    * Scale: one left join of (doc_id) against the (tiny) candidate
    * cluster labels — broadcast EXPLICITLY: the labels come out of a
    * `localCheckpoint` (LogicalRDD, no stats), so without the hint
    * Catalyst assumes worst-case size and plans a sort-merge join
    * that shuffles the whole corpus id set (measured: 3 exchanges →
    * 1 broadcast at sf0.1). */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val clusters = clusterLabels(spark, dir)
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        (col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
          .cast("long").as("keep"))
  }

  /** Quality-aware keep/drop manifest — [[dedupKeep]] with the
    * representative chosen by MERIT instead of arrival order: a web
    * corpus's near-dup clusters usually contain one clean original
    * and N mangled mirrors, and min-id keeps whichever crawled first.
    * Here each cluster keeps the member ranking best under
    * (gopher keep flag DESC, n_words DESC, doc_id ASC) — pass the
    * published quality battery first, then prefer the longest
    * (truncation is the common mirror defect), doc_id as the
    * deterministic tiebreak; singletons keep themselves. The oracle
    * composes ClusterCtes with the full GopherSql battery, so the
    * choice function is hash-gated end to end. Scale shape: the
    * cluster labels are banding-bounded (tiny) and broadcast into
    * the quality relation; the rank window partitions by cluster id
    * over candidate rows only; the corpus-wide manifest is one
    * broadcast left join — the dedup_keep shape plus one narrow
    * quality column. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lab"))
      .orderBy(col("q_keep").desc, col("n_words").desc, col("id").asc)
    val clusters = clusterLabels(spark, dir).select(col("id"), col("lab"))
    val ranked = TextAnalysis.gopherQuality(spark, dir)
      .select(col("doc_id").as("id"), col("keep").as("q_keep"), col("n_words"))
      .join(broadcast(clusters), "id")
      .withColumn("rn", row_number().over(w))
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"),
        (col("rn") === 1).cast("long").as("keep"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(broadcast(ranked), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("keep"), lit(1L)).as("keep"))
  }

  private def keepBestSql: String =
    s"""$ClusterCtes,
       |gq AS (${TextAnalysis.GopherSql}),
       |rk AS (SELECT cc.id, cc.cluster_id,
       |         row_number() OVER (PARTITION BY cc.cluster_id
       |           ORDER BY gq.keep DESC, gq.n_words DESC, cc.id ASC) AS rn
       |       FROM cc JOIN gq ON gq.doc_id = cc.id)
       |SELECT d.doc_id,
       |  COALESCE(rk.cluster_id, d.doc_id) AS cluster_id,
       |  CAST(CASE WHEN rk.id IS NULL OR rk.rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM documents d LEFT JOIN rk ON rk.id = d.doc_id""".stripMargin

  /** Connected components by alternating large-star / small-star edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the WEB-GRAPH-SCALE alternative to
    * [[propagateMinLabels]]. Where label propagation (even with
    * pointer doubling) keeps the full edge set alive every round,
    * star contraction REWRITES the edges toward star graphs centered
    * at component minima, shrinking the working set as it converges —
    * the right trade once edges ≫ nodes (web/link graphs). Crossover:
    * for near-dup graphs (tiny components, edges ≈ nodes) the
    * registered pointer-doubling loop wins on constant factors; both
    * are O(log n) rounds.
    *
    *  - large-star: every node connects its LARGER neighbours to its
    *    local minimum — one min-groupBy + one join per step;
    *  - small-star: every node connects its smaller-or-self
    *    neighbours to the minimum of its smaller neighbourhood;
    *  - fixpoint: the edge set is a union of stars — leaf → min(id)
    *    of its component; detected via an exact (count, Σxxhash64)
    *    signature of the canonical edge set (decimal sum — exact,
    *    order-insensitive; a signature collision would need two
    *    DIFFERENT edge sets agreeing on count and 64-bit hash sum —
    *    vanishing, and the spec cross-checks labels vs union-find).
    *
    * Returns (labels(id, lab), rounds). Not registered as a query: its
    * output is by construction identical to [[propagateMinLabels]]'s
    * (EdgeCaseSpec/CorpusSpec assert it), so a second registered row
    * would gate nothing new. */
  private[operators] def ccStarContraction(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.sql.functions.{xxhash64 => xh}
    def symmetric(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v"))).distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      e.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.filter(col("v") < col("u"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    // every round is ONE job: the cut is lazy and the signature
    // aggregate is the action that materializes it ([[Rounds.untilStable]];
    // eager checkpoints + a separate signature scan doubled the job
    // count and benched cc_star at 6.2 s; this form runs ~3 s).
    // No per-round repartition: the state is tiny either way, and the
    // extra exchange per round cost more than the task-count it saved.
    val edges0 = symmetric(
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .filter(col("u") =!= col("v")))
      .transform(StateMode.cut(_, eager = false))
    def signature(e: DataFrame): (Long, java.math.BigDecimal) = {
      val dir = e.filter(col("v") < col("u"))
      val r = dir.agg(
        count(lit(1)).as("n"),
        coalesce(sum(xh(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("s")).first()
      (r.getLong(0), r.getDecimal(1))
    }
    val ((edges, _), rounds) =
      Rounds.untilStable(48, "ccStarContraction")((edges0, signature(edges0))) {
        case ((e, _), _) => symmetric(smallStar(largeStar(e)))
      } { case ((_, sig), next) =>
        val nextSig = signature(next)
        ((next, nextSig), nextSig == sig)
      }
    // fixpoint edges are stars: every directed (big, small) pair is
    // leaf → component-min; centers label themselves
    val dir = edges.filter(col("v") < col("u"))
    val leaves = dir.select(col("u").as("id"), col("v").as("lab"))
    val centers = dir.select(col("v").as("id")).distinct()
      .select(col("id"), col("id").as("lab"))
    (leaves.union(centers).distinct(), rounds)
  }

  /** Near-dup clusters over the EMBEDDING pair graph via
    * large-star/small-star contraction — the registered query for
    * [[ccStarContraction]] (previously library-only): where
    * `dedup_cluster` gates pointer-doubling label propagation on the
    * ngram graph, this row gates the web-graph-scale alternative on a
    * DIFFERENT pair graph (semantic near-dups from [[dedupEmbedding]]),
    * so both iterative-CC implementations carry an oracle. Output and
    * oracle mirror `dedup_cluster`: (vec_id, min-id cluster label,
    * cluster size), replayed by a recursive-CTE transitive closure
    * over the all-pairs cosine graph. */
  def ccStarClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupEmbedding(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val (labels, _) = ccStarContraction(pairs)
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("lab"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .select(col("id").as("vec_id"), col("lab").as("cluster_id"),
        col("cluster_size"))
  }

  /** All-pairs exact formulation — spec-side ground truth for
    * [[dedupEmbedding]] (PipelineOpsSpec asserts equality). Not
    * registered: the non-equi join is a BNLJ, audit scale only. */
  private[operators] def dedupEmbeddingExact(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
  }

  // ─────────────── exact edit-distance near-dup join (fuzzy) ───────────────

  private[operators] val FuzzyPrefixLen = 32
  private[operators] val FuzzyK = 3        // max edit distance
  private[operators] val FuzzyNSeg = 4     // K+1 segments (pigeonhole)
  private[operators] val FuzzySegLen = 8   // FuzzyPrefixLen / FuzzyNSeg
  private[operators] val FuzzyMaxGramDf = 1000L // hot-segment cap (r16 ScaleLab)

  /** Normalized fixed-width fuzzy key: tokenizer-style ASCII fold,
    * first [[FuzzyPrefixLen]] chars, '#'-padded to exactly that
    * width — fixed width makes the pigeonhole segment boundaries
    * position-stable so the filter needs no per-length grouping.
    * Not a tokenizer, so it keeps its own regex rather than
    * [[graft.functions.Tokenize]]: the key is a character string that
    * keeps the separating spaces (leading and trailing ones included)
    * and the edit distance counts them, where a token array would
    * drop them. */
  private[operators] def fuzzyKey(c: Column): Column =
    rpad(substring(lower(regexp_replace(c, "[^a-zA-Z0-9]+", " ")), 1, FuzzyPrefixLen),
      FuzzyPrefixLen, "#")

  /** EXACT edit-distance near-dup join (fuzzy dedup): all document
    * pairs whose normalized [[FuzzyPrefixLen]]-char keys are within
    * levenshtein distance [[FuzzyK]] — the catalog/title-dedup
    * operator the jaccard family can't express (token-order-
    * sensitive, transposition-tolerant via its cost model).
    *
    * LOSSLESS sub-quadratic candidate generation by the pigeonhole
    * segment filter (the PassJoin-style partition lemma): split each
    * key into [[FuzzyNSeg]] = K+1 contiguous [[FuzzySegLen]]-char
    * segments; any optimal alignment of a pair within K edits leaves
    * at least one segment of `a` untouched, and that segment occurs
    * VERBATIM in `b` at a start offset shifted by at most the net
    * indels before it — and because both keys are FIXED-WIDTH
    * (rpad), insertions equal deletions, so the shift is bounded by
    * ⌊K/2⌋, not K (the PassJoin multi-match-aware refinement, r19).
    * So: side `a` emits its 4 exact segments, side `b` emits its
    * (segment, shift) windows (≤ 4×(2⌊K/2⌋+1) = 12 eight-char keys,
    * 10 after the start-range clip), and an equi-join on (segment
    * index, substring) yields every qualifying pair — no recall loss
    * below the hot cap, proven by the lemma, verified by the exact
    * levenshtein only on candidates.
    * Scale shape (reworked r18): the witness rows out of the segment
    * equi-join carry BOTH fixed-width keys ([[dedupFuzzyWitnessesOn]]
    * — the exploded sides are linear in n, so the 32-char columns
    * widen a linear shuffle, not the candidate mass), and the verify
    * runs MAP-SIDE on the join output inside the same codegen stage
    * via the threshold form `levenshtein(ta, tb, K)` — a banded
    * O(K·len) pass with early exit, exact for every distance ≤ K
    * (−1 otherwise, so the ≤K filter is unchanged arithmetic). Only
    * the verified true pairs reach the closing distinct, so the
    * candidate-mass distinct (314M rows at ScaleLab 100×) and both
    * pair-mass key re-attach joins never materialize; shuffled pair
    * mass is output-sized. A hot
    * identical-prefix gram (boilerplate headers) fans out like a hot
    * shingle — the [[FuzzyMaxGramDf]] segment-df cap (shipped r16:
    * ScaleLab measured 219k → 39.9M candidates on a 10× corpus with
    * replica-hot prefixes) bounds the join volume to cap×(2K+1)×NSeg
    * ×n — linear in n; the recall contract is in
    * [[dedupFuzzyWitnessesOn]], and the fixture never approaches
    * the cap (hottest bucket = 3). Both engines
    * compute classic unit-cost levenshtein — the verify threshold is
    * exact integer arithmetic, hash-replayed end to end. */
  def dedupFuzzy(spark: SparkSession, dir: String): DataFrame =
    dedupFuzzyOn(Tables.documents(spark, dir))

  /** [[dedupFuzzy]] over any (doc_id, text) frame — the library
    * surface (and the randomized-property harness: EdgeCaseSpec
    * proves losslessness on mutated corpora, not just the fixture).
    * `dist` is computed once per witness row (witness duplication a
    * measured stable 1.33–1.47× of distinct pairs) and is identical
    * across a pair's witnesses, so the closing distinct on
    * (doc_a, doc_b, dist) is exactly the pair set. */
  def dedupFuzzyOn(docs: DataFrame): DataFrame =
    dedupFuzzyWitnessesOn(docs)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), FuzzyK).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .distinct()

  private[operators] def dedupFuzzyCandidates(spark: SparkSession, dir: String): DataFrame =
    dedupFuzzyCandidatesOn(Tables.documents(spark, dir))

  /** The pigeonhole candidate set before verification — exposed so
    * DedupScaleSpec can count it (the simjoinPrefixCandidates
    * precedent). Column pruning drops the witness keys from this
    * plan: it scans ids and grams only. */
  private[operators] def dedupFuzzyCandidatesOn(docs: DataFrame): DataFrame =
    dedupFuzzyWitnessesOn(docs).select(col("doc_a"), col("doc_b")).distinct()

  /** Raw witness rows WITH both normalized keys attached —
    * (doc_a, doc_b, ta, tb), one row per matching segment window,
    * pair order normalized (doc_a < doc_b, keys swapped in lockstep).
    * Both exploded join sides are linear in n (4 segment rows, ≤ 10
    * probe windows per doc), so carrying the fixed 32-char key
    * through them widens a LINEAR shuffle; in exchange the verify in
    * [[dedupFuzzyOn]] runs pipelined on the join output and the
    * candidate pair mass never shuffles at all. */
  private[operators] def dedupFuzzyWitnessesOn(docs: DataFrame): DataFrame = {
    // lc = content length of the key BEFORE '#'-padding. The pad char
    // never occurs in content ([[fuzzyKey]] folds every non-
    // alphanumeric to a space), so one edit changes a key's '#'-count
    // by at most 1 and levenshtein(ta, tb) >= |lc_a - lc_b| — pairs
    // past the gate can never verify. On the registered corpora every
    // document fills the 32-char prefix (lc = 32 everywhere, measured
    // at r19 over sf0.001/0.01/0.1 and the ScaleLab replicas), so the
    // gate prunes ZERO rows there — it is shipped for the library
    // surface (title/short-text corpora), priced at one int compare
    // per witness row against a ~100-op banded verify.
    val n = docs.select(col("doc_id"), fuzzyKey(col("text")).as("t"))
      .withColumn("lc", length(rtrim(col("t"), "#")))
    val segIdx = (0 until FuzzyNSeg).map(lit(_))
    val segsAll = n.select(col("doc_id"), col("t"), col("lc"),
        explode(array(segIdx: _*)).as("i"))
      .select(col("doc_id"), col("t"), col("lc"), col("i"),
        expr(s"substring(t, i * $FuzzySegLen + 1, $FuzzySegLen)").as("s"))
    // Hot-gram cap (r16 ScaleLab finding: a boilerplate PREFIX shared
    // by m docs makes its digit-free segments m-hot, and the segment
    // join goes m² on those buckets — 219k → 39.9M candidates on a
    // 10× corpus with replica-hot prefixes). Pruning grams whose
    // SEGMENT-side df exceeds [[FuzzyMaxGramDf]] bounds the join
    // volume by cap × (2K+1)·NSeg × n — LINEAR in n. Recall
    // contract (reworded r17, ADVICE r16): a qualifying pair is
    // DROPPED — not recovered elsewhere — when every edit-untouched
    // segment of an optimal alignment is a >cap-hot gram. Such pairs
    // share >cap boilerplate in all surviving segments yet differ
    // within K edits in the rest; they are genuine near-dups that
    // [[dedupExact]] CANNOT recover (it needs byte-identical docs).
    // The cap is a deliberate recall-for-boundedness trade on
    // mass-shared boilerplate; the `fuzzy_hot_grams` observed metric
    // below reports when it engages (0 on the fixture, hottest
    // bucket = 3) so a deployment sees the trade the run actually
    // made — read it from `df.queryExecution.observedMetrics` or a
    // QueryExecutionListener after any action; no extra job runs.
    // The hot list cannot exceed NSeg·n/cap rows, so the anti-join
    // broadcasts.
    val hot = segsAll.groupBy(col("i"), col("s"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > FuzzyMaxGramDf).select(col("i"), col("s"))
      .observe("fuzzy_hot_grams", count(lit(1)).as("hot_gram_count"))
    val segs = segsAll.join(hot, Seq("i", "s"), "left_anti")
    // Probe-window shift bound (r19, the PassJoin "multi-match-aware"
    // refinement specialized to FIXED-WIDTH keys): every key is
    // exactly [[FuzzyPrefixLen]] chars by construction (rpad), so any
    // edit script within K on a pair has #insertions == #deletions
    // == T and cost 2T + #substitutions <= K, hence T <= K/2. An
    // untouched segment's start offset in the other key shifts by the
    // net indels BEFORE it, |shift| <= T <= K/2 — the generic +-K
    // window over-probes by more than 2x (22 windows/doc at K=3 vs
    // 10). The existing start-range filter already encodes the
    // endpoint tightening (segment 0 can only shift right, the last
    // segment only left). Lossless: a qualifying pair's untouched
    // segment (the pigeonhole witness) always sits within +-K/2, so
    // the candidate set keeps every true pair; only coincidental
    // far-shift gram matches — always verify-FALSE — are dropped.
    // Measured set-identical to the generic ±K windows at x10 and
    // x100 (1.04 M pairs) and cost-neutral there (OPTIMIZATION_r19.md).
    val shifts = (-(FuzzyK / 2) to FuzzyK / 2).map(lit(_))
    val probes = n.select(col("doc_id"), col("t"), col("lc"),
        explode(array(segIdx: _*)).as("i"))
      .select(col("doc_id"), col("i"), col("t"), col("lc"),
        explode(array(shifts: _*)).as("dlt"))
      .withColumn("start", col("i") * FuzzySegLen + 1 + col("dlt"))
      .filter(col("start") >= 1 &&
        col("start") <= FuzzyPrefixLen - FuzzySegLen + 1)
      .select(col("doc_id"), col("t"), col("lc"), col("i"),
        expr(s"substring(t, start, $FuzzySegLen)").as("s"))
    val flip = col("a.doc_id") < col("b.doc_id")
    segs.as("a")
      .join(probes.as("b"), col("a.i") === col("b.i") && col("a.s") === col("b.s") &&
        abs(col("a.lc") - col("b.lc")) <= FuzzyK)
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(
        when(flip, col("a.doc_id")).otherwise(col("b.doc_id")).as("doc_a"),
        when(flip, col("b.doc_id")).otherwise(col("a.doc_id")).as("doc_b"),
        when(flip, col("a.t")).otherwise(col("b.t")).as("ta"),
        when(flip, col("b.t")).otherwise(col("a.t")).as("tb"))
  }

  private[operators] val AccPerms = 16

  /** MinHash estimator calibration — the eval a dedup deployment runs
    * before picking band/row parameters (the [[Similarity]] family's
    * `ann_recall` pattern brought to sketch dedup): over the verified
    * near-dup pairs, compare the [[AccPerms]]-permutation MinHash
    * Jaccard ESTIMATE (matching-minima share) against the exact
    * shingle Jaccard, both on the 2²⁰ lattice, plus the absolute
    * error. Permutations here are md5-derived (seed suffixed into the
    * shingle) so the WHOLE estimator replays in the oracle — the
    * production sketch ([[minhashSketch]]) keeps its ~10×-cheaper
    * xxhash64 path, which DuckDB cannot replay and which therefore
    * gates through the exact-result equivalence instead. Scale shape:
    * signatures and exact intersections are computed on CANDIDATE
    * DOCS ONLY (the id semi-join sits below the tokenizer — the
    * [[dedupMinhash]] verification shape); per-doc work is
    * |shingles|·[[AccPerms]] hashes folding map-side to
    * [[AccPerms]]+1 longs per doc; the pair join moves signatures,
    * never shingles. */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val jp = dedupNgramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
      .persistScoped()
    val candDocs = jp.select(col("doc_a").as("doc_id"))
      .union(jp.select(col("doc_b").as("doc_id"))).distinct()
    val sh = docShinglesOf(
        Tables.documents(spark, dir).join(candDocs, Seq("doc_id"), "left_semi"))
      .persistScoped()
    val minCols = (0 until AccPerms).map(p =>
      min(expr(s"cast(conv(substring(md5(concat(shingle, ':$p')), 1, 15), 16, 10) as bigint)"))
        .as(s"m$p"))
    val sig = sh.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail :+ count(lit(1)).as("n"): _*)
      .select(col("doc_id"),
        array((0 until AccPerms).map(p => col(s"m$p")): _*).as("sig"), col("n"))
      .persistScoped()
    val inter = jp
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sig.select(col("doc_id"), col("sig").as("siga"), col("n").as("na")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sig.select(col("doc_id"), col("sig").as("sigb"), col("n").as("nb")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("match_cnt",
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (a, x) => a + x))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        expr("cast((inter * cast(1048576 as bigint)) div (na + nb - inter) as bigint)")
          .as("exact_q"),
        col("match_cnt"),
        expr(s"cast((match_cnt * cast(1048576 as bigint)) div $AccPerms as bigint)")
          .as("est_q"))
      .withColumn("err_q", abs(col("est_q") - col("exact_q")))
  }

  /** Candidate (bands × rows) splits of the 64-hash MinHash budget
    * the S-curve planner evaluates before committing a banding. */
  private val LshPlans = Seq((32, 2), (16, 4), (8, 8), (4, 16))

  /** LSH banding S-curve planner — the tuning table consulted BEFORE
    * re-banding a [[minhashSketch]] deployment: for each way to split
    * the [[NumPerms]]-hash budget into (bands b × rows r) and each
    * Jaccard level s ∈ {0.1..0.9}, the candidate probability
    * p = 1 − (1 − sʳ)ᵇ — the curve that decides whether a plan's
    * threshold (≈(1/b)^(1/r)) sits where the dedup policy needs it.
    * Closed form is irrational, so the operator DEFINES the lattice
    * replay both engines run: sʳ and the band product iterate
    * x ← (x·y) div 2²⁰ (truncating each step — the documented
    * contract, exact cross-engine where floating powers are not).
    * Spark explodes the literal plan array over one `spark.range` of
    * the nine levels and iterates each power with `aggregate` over
    * `sequence(1, n)`; the oracle iterates the
    * same recurrence in two recursive CTEs. O(|plans|·9) rows —
    * metadata at any scale (the operator reads no fixture data; it
    * plans against the sketch CONFIGURATION). */
  def lshThresholdPlan(spark: SparkSession, dir: String): DataFrame = {
    // 2²⁰·(x/2²⁰)ⁿ, truncated at each of the n steps
    def pow(x: String, n: String): Column = expr(
      s"aggregate(sequence(1, $n), cast(1048576 as bigint), (acc, i) -> (acc * $x) div 1048576)")
    spark.range(1, 10)
      .select(inline(array(LshPlans.map { case (b, r) =>
          struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band")) }: _*)),
        expr("(id * 1048576) div 10").as("s_q"))
      .withColumn("srq", pow("s_q", "rows_per_band"))
      .select(col("bands"), col("rows_per_band"), col("s_q"),
        (lit(1048576) - pow("(1048576 - srq)", "bands")).as("p_match_q"))
  }

  private def lshThresholdPlanSql: String = {
    val plansValues = LshPlans.map { case (b, r) => s"($b, $r)" }.mkString(", ")
    s"""WITH RECURSIVE plans AS (
       |  SELECT * FROM (VALUES $plansValues) AS p(bands, rows_per_band)),
       |s AS (SELECT CAST((i * 1048576) // 10 AS BIGINT) AS s_q
       |      FROM generate_series(1, 9) AS t(i)),
       |grid AS (SELECT bands, rows_per_band, s_q FROM plans CROSS JOIN s),
       |srq_it AS (
       |  SELECT bands, rows_per_band, s_q, 0 AS k, CAST(1048576 AS BIGINT) AS acc
       |  FROM grid
       |  UNION ALL
       |  SELECT bands, rows_per_band, s_q, k + 1, (acc * s_q) // 1048576
       |  FROM srq_it WHERE k < rows_per_band),
       |srq AS (SELECT bands, rows_per_band, s_q, acc AS srq
       |        FROM srq_it WHERE k = rows_per_band),
       |nm_it AS (
       |  SELECT bands, rows_per_band, s_q, srq, 0 AS k, CAST(1048576 AS BIGINT) AS acc
       |  FROM srq
       |  UNION ALL
       |  SELECT bands, rows_per_band, s_q, srq, k + 1, (acc * (1048576 - srq)) // 1048576
       |  FROM nm_it WHERE k < bands)
       |SELECT CAST(bands AS BIGINT) AS bands,
       |  CAST(rows_per_band AS BIGINT) AS rows_per_band, s_q,
       |  CAST(1048576 - acc AS BIGINT) AS p_match_q
       |FROM nm_it WHERE k = bands""".stripMargin
  }

  /** Content-defined chunking (the FastCDC/rsync family, stateless
    * Gear variant) + chunk-level cross-document sharing — the
    * STORAGE-dedup tier below [[dedupSubstring]]'s span view: chunk
    * boundaries cut where the 8-gram ENDING at a position hashes to
    * 0 mod 64 (expected ~64-char chunks) — content-defined, so an
    * insertion reshifts only its own chunk while fixed-width blocks
    * reshift everything after it (the property that makes CDC the
    * backbone of dedup stores and incremental corpus syncs). Each
    * position's boundary test is INDEPENDENT (an md5 of the trailing
    * 8-gram — no rolling state), so the whole chunker is relational:
    * boundaries/starts/chunks are higher-order array expressions
    * inside the scan, zero shuffle until the chunk-hash fold. Per
    * doc: chunk count, max chunk length, and how many of its chunks
    * appear in OTHER docs too (n_shared + share on 2²⁰) — the
    * dedup-potential readout. Sub-8-char docs are one unsplittable
    * chunk (the guard also dodges Spark's descending-sequence trap:
    * sequence(8, len) with len < 8 counts DOWN, it is not empty).
    * Scale shape: scan-resident chunking; ONE (hash) exchange for
    * the sharing fold; one doc_id fold; a left join keeps every doc. */
  /** The scan-resident chunker over any (doc_id, text) frame —
    * (doc_id, idx, chunk) in document order; factored so the spec
    * can EXECUTE the CDC locality property on planted insertions. */
  private[operators] def cdcChunksOf(docs: DataFrame): DataFrame = {
    val bnds = expr(
      """case when length(text) >= 8 then
        |  filter(sequence(8, length(text)),
        |    i -> cast(conv(substring(md5(substring(text, i - 7, 8)), 1, 8), 16, 10) as bigint) % 64 = 0)
        |else array() end""".stripMargin)
    val chunks = expr(
      """filter(zip_with(
        |  concat(array(1), transform(bnds, i -> i + 1)),
        |  concat(bnds, array(length(text))),
        |  (s, e) -> substring(text, s, e - s + 1)),
        |  c -> length(c) > 0)""".stripMargin)
    docs
      .select(col("doc_id"), bnds.as("bnds"), col("text"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("idx", "chunk")))
  }

  /** Content-defined chunking rollup — per doc, [[cdcChunksOf]]'s
    * chunk count, max chunk length, and the cross-document SHARED
    * chunk mass (chunks whose hash appears in other docs too, share
    * on 2²⁰) — the storage-dedup / incremental-sync readout; see the
    * chunker's doc for the stateless-Gear boundary rule and the
    * executed insertion-locality property. ONE (hash) exchange for
    * the sharing fold, one doc fold, a left join keeps every doc. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val ch = cdcChunksOf(Tables.documents(spark, dir))
      .select(col("doc_id"), expr("substring(md5(chunk), 1, 16)").as("h"),
        length(col("chunk")).cast("long").as("clen"))
      .persistScoped()
    val hs = ch.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
    val per = ch.join(hs, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), max(col("clen")).as("max_chunk"),
        sum(when(col("nd") > 1L, 1L).otherwise(0L)).as("n_shared"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("max_chunk"), lit(0L)).as("max_chunk"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        expr("cast((coalesce(n_shared, 0) * 1048576) div greatest(coalesce(n_chunks, 0), 1) as bigint)")
          .as("shared_q"))
  }

  private def cdcChunksSql: String =
    """WITH b AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(text) >= 8 THEN
      |      list_filter(range(8, len(text) + 1),
      |        i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER) - 7, 8)), 1, 8)) AS BIGINT) % 64 = 0)
      |    ELSE [] END AS bnds
      |  FROM documents),
      |ck AS (
      |  SELECT doc_id, unnest(
      |    list_filter(
      |      list_transform(range(1, len(bnds) + 2),
      |        j -> substr(text,
      |               CAST(CASE WHEN j = 1 THEN 1 ELSE bnds[CAST(j AS INTEGER) - 1] + 1 END AS INTEGER),
      |               CAST((CASE WHEN j = CAST(len(bnds) AS BIGINT) + 1 THEN len(text) ELSE bnds[CAST(j AS INTEGER)] END)
      |                    - (CASE WHEN j = 1 THEN 1 ELSE bnds[CAST(j AS INTEGER) - 1] + 1 END) + 1 AS INTEGER))),
      |      c -> len(c) > 0)) AS chunk
      |  FROM b),
      |ch AS (SELECT doc_id, substr(md5(chunk), 1, 16) AS h,
      |         CAST(len(chunk) AS BIGINT) AS clen FROM ck),
      |hs AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
      |per AS (SELECT ch.doc_id, count(*) AS n_chunks,
      |          CAST(max(ch.clen) AS BIGINT) AS max_chunk,
      |          CAST(sum(CASE WHEN hs.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      |        FROM ch JOIN hs USING (h) GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(per.n_chunks, 0) AS n_chunks,
      |  coalesce(per.max_chunk, 0) AS max_chunk,
      |  coalesce(per.n_shared, 0) AS n_shared,
      |  CAST((coalesce(per.n_shared, 0) * 1048576)
      |       // greatest(coalesce(per.n_chunks, 0), 1) AS BIGINT) AS shared_q
      |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lsh_threshold_plan" -> lshThresholdPlan,
    "cdc_chunks"      -> cdcChunks,
    "dedup_fuzzy"     -> dedupFuzzy,
    "dedup_exact"     -> dedupExact,
    "dedup_by_source" -> dedupBySource,
    "dedup_ngram"     -> dedupNgramJaccard,
    "minhash_accuracy" -> minhashAccuracy,
    "ngram_containment" -> ngramContainment,
    "simjoin_prefix"  -> simjoinPrefix,
    "dedup_minhash"   -> dedupMinhash,
    "dedup_incr"      -> dedupIncremental,
    "dedup_simhash"   -> dedupSimhash,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_embedding_tight" -> dedupEmbeddingTightPlanted,
    "dedup_semantic"  -> dedupSemantic,
    "dedup_cluster"   -> dedupCluster,
    "dup_cluster_hist" -> dupClusterHist,
    "dedup_rate_by_lang" -> dedupRateByLang,
    "dedup_substring" -> dedupSubstring,
    "dedup_keep"      -> dedupKeep,
    "dedup_keep_best" -> dedupKeepBest,
    "cc_star"         -> ccStarClusters)

  /** Shared DuckDB shingle pipeline (window-based trigram build). */
  private val ShinglesCte =
    s"""WITH toks AS (
      |  ${TextAnalysis.PosToksSql}),
      |tri AS (
      |  SELECT doc_id, w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS shingle,
      |         lead(w,2) OVER win AS w2
      |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM tri WHERE w2 IS NOT NULL),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val ExactJaccardSql =
    s"""$ShinglesCte
       |SELECT doc_a, doc_b, inter/(ca.n + cb.n - inter) AS jaccard
       |FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
       |WHERE inter/(ca.n + cb.n - inter) >= 0.8""".stripMargin

  /** Transitive closure of the exact near-dup pair graph: min label
    * per component via a recursive CTE — small-component-safe because
    * near-dup components are tiny, exactly the regime where the Spark
    * side's label propagation also lives. Shared by the cluster report
    * and the keep/drop manifest. */
  private[operators] val ClusterCtes =
    s"""${ShinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |jp AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
       |  WHERE inter/(ca.n + cb.n - inter) >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM jp
       |          UNION ALL SELECT doc_b, doc_a FROM jp),
       |reach AS (
       |  SELECT DISTINCT a AS id, a AS lab FROM edges
       |  UNION
       |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
       |cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  private val ClusterSql =
    s"""$ClusterCtes
       |SELECT id AS doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cc""".stripMargin

  private val KeepSql =
    s"""$ClusterCtes
       |SELECT d.doc_id,
       |  COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
       |  CAST(CASE WHEN cc.cluster_id IS NULL OR cc.cluster_id = d.doc_id
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM documents d LEFT JOIN cc ON d.doc_id = cc.id""".stripMargin

  /** Full replay of [[dedupSubstring]]: 5-gram spans via lead windows,
    * per-doc distinct spans, cross-doc shared set, per-doc counts. */
  private val SubstringSql =
    s"""WITH toks AS (
      |  ${TextAnalysis.PosToksSql}),
      |g AS (
      |  SELECT doc_id,
      |    w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win
      |      || ' ' || lead(w,3) OVER win || ' ' || lead(w,4) OVER win AS span,
      |    lead(w,4) OVER win AS w4
      |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |sp AS (SELECT DISTINCT doc_id, span FROM g WHERE w4 IS NOT NULL),
      |shared AS (SELECT span FROM sp GROUP BY span HAVING count(*) >= 2),
      |tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1),
      |dup AS (SELECT sp.doc_id, count(*) AS n_dup_spans
      |        FROM sp JOIN shared USING(span) GROUP BY 1)
      |SELECT tot.doc_id, tot.n_spans,
      |  COALESCE(dup.n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans,
      |  CAST(COALESCE(dup.n_dup_spans, CAST(0 AS BIGINT)) AS DOUBLE) / tot.n_spans AS dup_ratio
      |FROM tot LEFT JOIN dup USING(doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "lsh_threshold_plan" -> lshThresholdPlanSql,
    "cdc_chunks" -> cdcChunksSql,
    // full replay of the pigeonhole filter + levenshtein verify —
    // same fixed-width normalized key, same 4×(2K+1) probe windows,
    // same candidate normalization; DuckDB's levenshtein is the same
    // classic unit-cost distance, so the gate is hash-exact
    "dedup_fuzzy" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |    rpad(substr(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')),
         |         1, $FuzzyPrefixLen), $FuzzyPrefixLen, '#') AS t
         |  FROM documents),
         |ii AS (SELECT unnest(range($FuzzyNSeg)) AS i),
         |dd AS (SELECT unnest(range(-$FuzzyK, ${FuzzyK + 1})) AS dlt),
         |segs AS (
         |  SELECT doc_id, i, substr(t, i * $FuzzySegLen + 1, $FuzzySegLen) AS s
         |  FROM n CROSS JOIN ii),
         |probes AS (
         |  SELECT doc_id, i, substr(t, i * $FuzzySegLen + 1 + dlt, $FuzzySegLen) AS s
         |  FROM n CROSS JOIN ii CROSS JOIN dd
         |  WHERE i * $FuzzySegLen + 1 + dlt >= 1
         |    AND i * $FuzzySegLen + 1 + dlt <= ${FuzzyPrefixLen - FuzzySegLen + 1}),
         |cand AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         |                  greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM segs a JOIN probes b ON a.i = b.i AND a.s = b.s
         |  WHERE a.doc_id <> b.doc_id)
         |SELECT c.doc_a, c.doc_b, CAST(levenshtein(na.t, nb.t) AS BIGINT) AS dist
         |FROM cand c
         |JOIN n na ON na.doc_id = c.doc_a
         |JOIN n nb ON nb.doc_id = c.doc_b
         |WHERE levenshtein(na.t, nb.t) <= $FuzzyK""".stripMargin,
    "dedup_cluster" -> ClusterSql,
    // histogram over the SAME converged components — the two oracles
    // share ClusterCtes verbatim so they cannot drift apart
    "dedup_rate_by_lang" ->
      s"""$ClusterCtes,
         |dup AS (SELECT id FROM cc WHERE cluster_id <> id)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN dup.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |  CAST((sum(CASE WHEN dup.id IS NOT NULL THEN 1 ELSE 0 END) * 1048576)
         |       // count(*) AS BIGINT) AS dup_share_q
         |FROM documents d LEFT JOIN dup ON d.doc_id = dup.id
         |GROUP BY d.lang""".stripMargin,
    "dup_cluster_hist" ->
      s"""$ClusterCtes,
         |per AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY 1)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM per GROUP BY cluster_size""".stripMargin,
    "dedup_keep" -> KeepSql,
    "dedup_keep_best" -> keepBestSql,
    "dedup_substring" -> SubstringSql,
    // transitive closure over the all-pairs cosine near-dup graph —
    // the embedding-graph twin of ClusterSql
    "cc_star" ->
      """WITH RECURSIVE p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                               list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.45),
        |edges AS (SELECT va AS a, vb AS b FROM p UNION ALL SELECT vb, va FROM p),
        |reach AS (
        |  SELECT DISTINCT a AS id, a AS lab FROM edges
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |cc AS (SELECT id, min(lab) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS vec_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM cc""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_by_source" -> dedupBySourceSql,
    "dedup_ngram" -> ExactJaccardSql,
    "minhash_accuracy" ->
      s"""$ClusterCtes,
         |cd AS (SELECT doc_a AS doc_id FROM jp UNION SELECT doc_b FROM jp),
         |perm AS (SELECT unnest(range($AccPerms)) AS p),
         |msig AS (
         |  SELECT sh.doc_id, perm.p,
         |    min(CAST('0x' || substr(md5(sh.shingle || ':' || perm.p), 1, 15) AS BIGINT)) AS m
         |  FROM sh JOIN cd USING (doc_id) CROSS JOIN perm
         |  GROUP BY 1, 2),
         |mc AS (
         |  SELECT jp.doc_a, jp.doc_b,
         |    CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT) AS match_cnt
         |  FROM jp
         |  JOIN msig a ON a.doc_id = jp.doc_a
         |  JOIN msig b ON b.doc_id = jp.doc_b AND b.p = a.p
         |  GROUP BY 1, 2),
         |ex AS (
         |  SELECT p.doc_a, p.doc_b, CAST(p.inter AS BIGINT) AS inter,
         |    CAST(ca.n + cb.n - p.inter AS BIGINT) AS uni,
         |    CAST((p.inter * 1048576) // (ca.n + cb.n - p.inter) AS BIGINT) AS exact_q
         |  FROM pairs p
         |  JOIN jp ON jp.doc_a = p.doc_a AND jp.doc_b = p.doc_b
         |  JOIN cnt ca ON p.doc_a = ca.doc_id JOIN cnt cb ON p.doc_b = cb.doc_id)
         |SELECT ex.doc_a, ex.doc_b, ex.inter, ex.uni, ex.exact_q, mc.match_cnt,
         |  CAST((mc.match_cnt * 1048576) // $AccPerms AS BIGINT) AS est_q,
         |  abs(CAST((mc.match_cnt * 1048576) // $AccPerms AS BIGINT) - ex.exact_q) AS err_q
         |FROM ex JOIN mc ON mc.doc_a = ex.doc_a AND mc.doc_b = ex.doc_b""".stripMargin,
    // containment replays the same shingle pipeline with BOTH pair
    // directions (the string surgery keeps the two CTEs in lockstep —
    // a drifted copy would silently diverge from the Jaccard family)
    // and the asymmetric |A∩B|/|A| denominator, integral threshold
    "ngram_containment" ->
      s"""${ShinglesCte.replace("AND a.doc_id < b.doc_id", "AND a.doc_id <> b.doc_id")}
         |SELECT doc_a, doc_b, inter/ca.n AS containment
         |FROM pairs JOIN cnt ca ON doc_a = ca.doc_id
         |WHERE 5*inter >= 3*ca.n""".stripMargin,
    // the prefix filter is lossless: its oracle IS the exact join's
    "simjoin_prefix" -> ExactJaccardSql,
    // minhash banding at (16,4) has ~1e-18 miss probability at the
    // corpus's j≈0.98 near-dup pairs, and exact verification removes
    // false positives ⇒ identical result to the exact ngram query.
    "dedup_minhash" -> ExactJaccardSql,
    // same exact-Jaccard relation, restricted to cross-side pairs and
    // reoriented so doc_new is the incoming-batch endpoint
    "dedup_incr" ->
      s"""$ShinglesCte
         |SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS doc_new,
         |  CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS doc_old,
         |  inter/(ca.n + cb.n - inter) AS jaccard
         |FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
         |WHERE inter/(ca.n + cb.n - inter) >= 0.8
         |  AND ((doc_a % 10 = 0) <> (doc_b % 10 = 0))""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                               list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                             list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.45""".stripMargin,
    // full replay of the planted tight gate: the planting CTE
    // derives the same copies (zero-prefix widths from the shared
    // PlantZeroCounts constant, 1-based list indexing vs the
    // engine's 0-based transform), then the 8×16 LSH pipeline with
    // planes GENERATED from the same fixed-seed stream
    // (planesLiteralFor — the DescentRounds / KnnBucketCap
    // precedent: engine and replay flip together), then exact
    // double-cosine confirm at the τ = 0.8 contract threshold.
    // Approximation-by-construction (a pair outside every shared
    // bucket is unseen) is part of the operator contract and
    // therefore part of the oracle.
    "dedup_embedding_tight" -> {
      val mCase = PlantZeroCounts.zipWithIndex
        .map { case (m, i) => s"WHEN $i THEN $m" }.mkString(" ")
      s"""WITH planes(t, j, p) AS (VALUES ${
            Similarity.planesLiteralFor(EmbTightTables, EmbTightBits)}),
         |base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |copies AS (SELECT vec_id + $PlantStride AS vec_id,
         |    list_transform(range(1, ${Similarity.Dim + 1}),
         |      i -> CASE WHEN i <= m THEN 0.0 ELSE emb[i] END) AS emb
         |  FROM (SELECT vec_id, emb,
         |          CASE CAST((vec_id // 4) % 4 AS INT) $mCase END AS m
         |        FROM base WHERE vec_id % 4 = 0) pm),
         |e AS (SELECT vec_id, emb FROM base UNION ALL SELECT vec_id, emb FROM copies),
         |bits AS (SELECT e.vec_id, pl.t, pl.j,
         |    CASE WHEN list_inner_product(e.emb, pl.p) >= 0 THEN 1 << pl.j ELSE 0 END AS bit
         |  FROM e CROSS JOIN planes pl),
         |keys AS (SELECT vec_id, t, CAST(sum(bit) AS BIGINT) AS key FROM bits GROUP BY 1, 2),
         |cands AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM keys a JOIN keys b ON a.t = b.t AND a.key = b.key AND a.vec_id < b.vec_id),
         |s AS (SELECT vec_a, vec_b, list_cosine_similarity(ea.emb, eb.emb) AS cos
         |  FROM cands JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
         |SELECT vec_a, vec_b, round(cos, 4) AS cos FROM s WHERE cos >= 0.8""".stripMargin
    },
    // cluster-scoped replay: the IDENTICAL quantizer chain as the
    // ann_ivf oracle (shared fragment), then intra-cell pair scoring —
    // the approximation (cross-cluster dups unseen) is part of the
    // operator contract and therefore part of the oracle
    "dedup_semantic" ->
      s"""${Similarity.IvfCellsSqlPrefix},
         |dups AS (
         |  SELECT b.nid AS vec_id
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.nid < b.nid
         |  JOIN e ea ON ea.vec_id = a.nid
         |  JOIN e eb ON eb.vec_id = b.nid
         |  WHERE list_cosine_similarity(ea.emb, eb.emb) >= 0.45
         |  GROUP BY 1)
         |SELECT c.nid AS vec_id, CAST(c.cell AS BIGINT) AS cell,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup
         |FROM cells c LEFT JOIN dups d ON d.vec_id = c.nid""".stripMargin,
    // full replay of the simhash operator: tokenize → td weights →
    // md5-derived 64-bit hashes (as two 32-bit halves, no 64-bit
    // shifts) → per-bit weighted votes → 4×16-bit chunks → pigeonhole
    // candidate join → chunk-wise hamming. Engine-agnostic because
    // every intermediate is integral.
    "dedup_simhash" ->
      s"""WITH toks AS (SELECT doc_id, unnest(${TextAnalysis.ToksSql}) AS tok FROM documents),
        |tw AS (SELECT doc_id, tok, count(*) AS w FROM toks GROUP BY 1, 2),
        |th AS (
        |  SELECT doc_id, w,
        |    CAST('0x' || substring(md5(tok), 1, 8) AS BIGINT) AS hi,
        |    CAST('0x' || substring(md5(tok), 9, 8) AS BIGINT) AS lo
        |  FROM tw),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN ((CASE WHEN b < 32 THEN lo >> b ELSE hi >> (b - 32) END) & 1) = 1
        |             THEN w ELSE -w END) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bs
        |  GROUP BY 1, 2),
        |chunks AS (
        |  SELECT doc_id, b // 16 AS chunk_idx,
        |    CAST(sum(CASE WHEN v >= 0 THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS chunk_key
        |  FROM votes GROUP BY 1, 2),
        |wide AS (
        |  SELECT doc_id,
        |    max(CASE WHEN chunk_idx = 0 THEN chunk_key END) AS c0,
        |    max(CASE WHEN chunk_idx = 1 THEN chunk_key END) AS c1,
        |    max(CASE WHEN chunk_idx = 2 THEN chunk_key END) AS c2,
        |    max(CASE WHEN chunk_idx = 3 THEN chunk_key END) AS c3
        |  FROM chunks GROUP BY 1),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM chunks a JOIN chunks b
        |    ON a.chunk_idx = b.chunk_idx AND a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id),
        |ham AS (
        |  SELECT doc_a, doc_b,
        |    CAST(bit_count(xor(wa.c0, wb.c0)) + bit_count(xor(wa.c1, wb.c1))
        |       + bit_count(xor(wa.c2, wb.c2)) + bit_count(xor(wa.c3, wb.c3)) AS BIGINT) AS hamming
        |  FROM cands
        |  JOIN wide wa ON doc_a = wa.doc_id
        |  JOIN wide wb ON doc_b = wb.doc_id)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3""".stripMargin)
}
