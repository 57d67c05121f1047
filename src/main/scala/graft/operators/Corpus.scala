package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedDataset
import graft.functions.TextFunctions
import graft.sources.Tables

/** Training-corpus assembly operators — the steps between "cleaned
  * documents" and "tensors": context-window packing, train/test
  * decontamination, per-key sampling, and deterministic shuffle-shard
  * export. North-star ops absent from the reference (SURVEY.md §2.2);
  * every one is reproducible across engines (md5-derived hashing only,
  * no random()), so each is gated by a full DuckDB oracle.
  *
  * All four share one scale discipline: any global-order operation is
  * re-expressed per-shard (hash-partitioned windows), because a single
  * total order over 100 TB is a one-task sort. Sharded packing/shuffle
  * is also what training jobs actually consume — one input stream per
  * data-loader worker.
  */
object Corpus {

  /** md5-derived bucket from hex chars [from, from+4) of the CONTENT
    * hash, mod m — the same reproducible-bucket convention as
    * [[TextAnalysis.docSplit]] (chars 1-4) and docSample (17-4); each
    * op draws from a disjoint nibble range so buckets are independent. */
  private def md5Bucket(from: Int, m: Int): Column = pmod(
    conv(substring(md5(col("text").cast("binary")), from, 4), 16, 10).cast("long"),
    lit(m.toLong))

  private val SeqLen = 2048L // tokens per packed training sequence
  private val PackShards = 8

  /** Context-window packing: concatenate documents (in id order within
    * a content-hash shard) into a token stream and cut it at
    * [[SeqLen]]-token boundaries; each doc is assigned the sequence
    * where it STARTS plus its offset inside it — document-boundary
    * packing with deterministic layout. One narrow scan + one
    * hash-partitioned running-sum window; integral cumsums, so the
    * layout is bit-stable and engine-independent.
    *
    * The layout currency is the REAL tokenizer count: the
    * [[TextAnalysis.bpeTokens]] merge loop runs per word in the same
    * narrow pass (the context window holds subword tokens, not regex
    * words — packing on a proxy misallocates sequences whenever
    * merge density varies across docs). The regex word count and the
    * bytes/4 estimate ride along as gated sanity columns.
    *
    * Scale: the window partitions by shard, so parallelism = shard
    * count (set ≫ executor count in production); no shard ever sees
    * more than corpus/shards tokens, and the shuffle carries
    * (doc_id, shard, counts) — never text. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesOf(Tables.documents(spark, dir))

  /** Input-generic form of [[packSequences]] — CorpusPropsSpec drives
    * it with synthetic corpora (unicode, empty docs, skewed sizes)
    * that the fixture never produces. */
  private[operators] def packSequencesOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counted = docs
      .select(col("doc_id"), md5Bucket(21, PackShards).as("shard"), col("text"))
      .as[(Long, Long, String)]
      .map { case (id, shard, text) =>
        // same tokenization as tokenCountBpe (≡ ToksSql cross-engine)
        val ws = TextAnalysis.tokenize(text)
        (id, shard, ws.length.toLong,
          ws.map(w => TextAnalysis.bpeTokens(w).toLong).sum,
          (text.getBytes("UTF-8").length + 3L) / 4L)
      }
      .toDF("doc_id", "shard", "n_tokens", "n_bpe_tokens", "n_tokens_b4")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    counted
      .withColumn("cum", coalesce(sum(col("n_bpe_tokens")).over(w), lit(0L)))
      // integral DIV, not floor(double /): doubles lose µs-grade
      // exactness above 2^53 and the layout must be bit-stable
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("n_bpe_tokens"), col("n_tokens_b4"),
        expr(s"CAST(cum DIV $SeqLen AS BIGINT)").as("seq_id"),
        pmod(col("cum"), lit(SeqLen)).as("seq_offset"))
  }

  /** Train/test decontamination report: for every test-split document,
    * how many of its distinct trigram shingles also occur anywhere in
    * the train split — the overlap check run before any benchmark
    * number is trusted. Uses the same content-hash split as
    * [[TextAnalysis.docSplit]] (so exact copies always share a split)
    * and the same shingle universe as the dedup suite.
    *
    * Scale shape: shingles are joined as 8-byte xxhash64 keys; the
    * train side collapses to DISTINCT hashes (narrow shuffle), the
    * semi-join and per-doc counts are partial+final aggregations.
    * Nothing driver-side; text never shuffles. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val bucket = md5Bucket(1, 100)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"),
      when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"))
    val sh = Dedup.docShinglesOf(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .join(docs.select(col("doc_id"), col("split")), "doc_id")
    val trainSh = sh.filter(col("split") === "train").select("sh").distinct()
    val testSh = sh.filter(col("split") === "test").select("doc_id", "sh")
    val totals = testSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    testSh.join(trainSh, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .join(totals, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") / col("n_shingles")).as("shared_ratio"))
  }

  private val SamplePerKey = 20

  /** Deterministic per-key sampling: the [[SamplePerKey]] documents
    * with the smallest content-hash per language — "k uniform-ish docs
    * per stratum" that every rerun and every engine reproduces (the
    * inspection/eval-holdout primitive; random() would give a
    * different sample per run AND per partitioning). Window per key
    * with rank pushdown (WindowGroupLimit prunes to k rows per
    * partition BEFORE the exchange), so the shuffle carries ≤ k·keys
    * rows. */
  def samplePerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("hkey").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5Bucket(29, 65536).as("hkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= SamplePerKey)
  }

  /** Deterministic train/val/test split (80/10/10) by Knuth
    * multiplicative hash on doc_id — the assignment every training
    * pipeline needs pinned BEFORE any processing: a document's split
    * is a pure function of its id, so it never changes when the
    * corpus grows, is re-filtered, or is re-partitioned (the property
    * a random() split lacks), and train/val contamination checks can
    * re-derive it anywhere. Integral hash + integral thresholds make
    * the boundary exact in both engines — and the id folds mod 2³¹
    * BEFORE the multiply, so the product stays ≤ (2³¹−1)·K ≈ 5.7·10¹⁸
    * < 2⁶³−1 at ANY doc_id: the bare `doc_id × K` form overflows
    * int64 past doc_id ≈ 3.5·10⁹ (a 100 TB corpus is 10¹¹ docs),
    * where Spark wraps silently while DuckDB promotes to HUGEINT —
    * a cross-engine divergence that would surface only at scale.
    * Scale shape: a narrow zero-shuffle per-row map that rides any
    * scan. */
  private[operators] def splitOf(id: Column): Column = {
    val h = ((id % lit(2147483648L)) * lit(2654435761L)) % lit(4294967296L)
    when(h < 3435973836L, "train")
      .when(h < 3865470566L, "val")
      .otherwise("test")
  }

  /** Growth-stable train/val/test split — Knuth multiplicative hash
    * of doc_id against fixed thresholds, so adding documents never
    * reassigns an existing one; see [[splitOf]]. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"), col("n_chars"))

  /** Stratification audit of [[datasetSplit]] — the check a hash
    * split needs BEFORE anyone trusts val/test numbers: a content-
    * blind id hash stratifies only in expectation, so per
    * (split, lang) this reports the in-split language share against
    * the corpus share and their absolute deviation, all on the 2²⁰
    * lattice (share_q = n·2²⁰ div n_split; a big dev_q on a small
    * split means the eval set over/under-represents a language).
    * Scale shape: ONE partial+final fold to |splits|·|langs| cells
    * persists and derives both margins; the corpus total is a driver
    * scalar on that metadata-sized fold (t_closeness precedent, with
    * the empty-corpus guard). */
  def splitBalance(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(splitOf(col("doc_id")).as("split"), col("lang"))
      .groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n"))
      .persistScoped()
    val tRow = base.agg(sum(col("n"))).head()
    if (tRow.isNullAt(0))
      return base.select(col("split"), col("lang"), col("n"),
        col("n").as("share_q"), col("n").as("corpus_share_q"),
        col("n").as("dev_q")).limit(0)
    val nTot = tRow.getLong(0)
    val perSplit = base.groupBy(col("split")).agg(sum(col("n")).as("ns"))
    val perLang = base.groupBy(col("lang")).agg(sum(col("n")).as("nl"))
    base.join(perSplit, Seq("split")).join(perLang, Seq("lang"))
      .select(col("split"), col("lang"), col("n"),
        expr("(n * cast(1048576 as bigint)) div ns").as("share_q"),
        expr(s"(nl * cast(1048576 as bigint)) div $nTot").as("corpus_share_q"))
      .withColumn("dev_q", abs(col("share_q") - col("corpus_share_q")))
  }

  private def splitBalanceSql: String =
    """WITH base AS (
      |  SELECT CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 3435973836 THEN 'train'
      |              WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 3865470566 THEN 'val'
      |              ELSE 'test' END AS split,
      |    lang, count(*) AS n
      |  FROM documents GROUP BY 1, 2),
      |t AS MATERIALIZED (SELECT CAST(sum(n) AS BIGINT) AS nt FROM base),
      |ps AS (SELECT split, CAST(sum(n) AS BIGINT) AS ns FROM base GROUP BY 1),
      |pl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM base GROUP BY 1)
      |SELECT base.split, base.lang, base.n,
      |  (base.n * CAST(1048576 AS BIGINT)) // ps.ns AS share_q,
      |  (pl.nl * CAST(1048576 AS BIGINT)) // t.nt AS corpus_share_q,
      |  abs((base.n * CAST(1048576 AS BIGINT)) // ps.ns
      |      - (pl.nl * CAST(1048576 AS BIGINT)) // t.nt) AS dev_q
      |FROM base JOIN ps USING (split) JOIN pl USING (lang) CROSS JOIN t""".stripMargin

  /** Per-shard integrity MANIFEST for the shuffle-shard export — the
    * handshake a data-loader validates before training starts (row
    * counts catch truncated shards; the order-insensitive
    * fingerprint catches substituted/duplicated content): per export
    * shard, member count, doc-id span, and the sum of 60-bit md5
    * content slices mod 2⁶¹ (the table_fingerprint discipline —
    * addition commutes, so the manifest is independent of write
    * order and parallelism, and two exports compare by |shards|
    * rows). Scale shape: the shard key is a scan-resident content
    * hash; ONE partial+final fold to [[ExportShards]] rows. */
  def exportManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5Bucket(5, ExportShards).as("shard"), col("doc_id"),
        expr("cast(conv(substring(md5(cast(text as binary)), 1, 15), 16, 10) as decimal(38,0))")
          .as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        expr("cast(sum(h) % 2305843009213693952 as bigint)").as("fingerprint"))

  private def exportManifestSql: String =
    s"""SELECT ${bucketSql(5, ExportShards)} AS shard, count(*) AS n_docs,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       |  CAST(sum(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT))
       |       % 2305843009213693952 AS BIGINT) AS fingerprint
       |FROM documents GROUP BY 1""".stripMargin

  private val ExportShards = 64
  private val RvShards = 8

  /** Per-doc rendezvous owner over `nShards` — factored so the spec
    * can execute the DEFINING property on a smaller ring. */
  private[operators] def rendezvousOwner(docs: DataFrame, nShards: Int): DataFrame = {
    val hs = (0 until nShards).map(i =>
      md5(concat(col("doc_id").cast("string"), lit(s"#shard_$i"))))
    val best = greatest(hs: _*)
    val owner = (0 until nShards).foldRight(lit(-1L): Column) { case (i, other) =>
      when(hs(i) === best, lit(i.toLong)).otherwise(other)
    }
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
      owner.as("shard"))
  }

  /** Rendezvous (highest-random-weight) shard assignment (Thaler–
    * Ravishankar 1996) — the consistent-placement primitive of a
    * distributed corpus store, beside [[exportManifest]]'s mod-hash
    * layout: each doc goes to the shard whose keyed digest
    * md5(doc_id || '#' || shard) is lexicographically GREATEST. The
    * property that earns the scheme its keep — and that the spec
    * EXECUTES on a shrunk ring — is minimal disruption: removing a
    * shard remaps ONLY the docs it owned (their second-greatest
    * digest takes over; every other doc's argmax is untouched),
    * where mod-N hashing remaps (N−1)/N of the corpus. Output is the
    * |shards|-row balance readout (docs, char mass, share on 2²⁰).
    * Scale shape: the [[RvShards]] digests and their argmax are
    * scan-resident codegen; ONE partial+final fold to |shards| rows;
    * the total attaches via the ScalarJoin broadcast. */
  def rendezvousShard(spark: SparkSession, dir: String): DataFrame = {
    val g = rendezvousOwner(Tables.documents(spark, dir), RvShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .persistScoped()
    val t = g.agg(sum(col("n_docs")).as("nt"))
    ScalarJoin.attachScalar(g, col("n_docs"), t, col("nt"))
      .select(col("shard"), col("n_docs"), col("n_chars"),
        expr("cast((cast(n_docs as decimal(38,0)) * 1048576) div nt as bigint)")
          .as("share_q"))
  }

  private def rendezvousShardSql: String = {
    val hdefs = (0 until RvShards)
      .map(i => s"md5(CAST(doc_id AS VARCHAR) || '#shard_$i') AS h$i").mkString(", ")
    val hlist = (0 until RvShards).map(i => s"h$i").mkString(", ")
    val cases = (0 until RvShards - 1)
      .map(i => s"WHEN h$i = greatest($hlist) THEN $i").mkString(" ")
    s"""WITH h AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars, $hdefs
       |           FROM documents),
       |o AS (SELECT doc_id, n_chars,
       |        CAST(CASE $cases ELSE ${RvShards - 1} END AS BIGINT) AS shard
       |      FROM h),
       |g AS (SELECT shard, count(*) AS n_docs,
       |        CAST(sum(n_chars) AS BIGINT) AS n_chars FROM o GROUP BY 1),
       |t AS (SELECT CAST(sum(n_docs) AS HUGEINT) AS nt FROM g)
       |SELECT shard, n_docs, n_chars,
       |  CAST((CAST(n_docs AS HUGEINT) * 1048576) // t.nt AS BIGINT) AS share_q
       |FROM g, t""".stripMargin
  }

  /** Deterministic shuffle-shard export layout: shard = content-hash
    * bucket, position = rank of the full md5 digest within the shard —
    * a reproducible global shuffle (hash order ≈ uniform random, but
    * bit-stable) cut into [[ExportShards]] independent streams. This is
    * the write-side layout for training: `repartition(shard)` +
    * `sortWithinPartitions(pos)` streams each shard in order with no
    * global sort; the query form emits the assignment itself. */
  def shuffleExport(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5Bucket(5, ExportShards).as("shard"),
        md5(col("text").cast("binary")).as("h"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Materialized form of [[shuffleExport]]: actually writes the
    * training shards — each shard a parquet file whose ROW ORDER is the
    * shard's shuffle order, so a data-loader can stream it without
    * sorting. `repartition(N, shard)` hash-partitions on the shard id
    * (every shard lands whole in exactly one task ⇒ exactly one file
    * per `shard=K` directory), `sortWithinPartitions(shard, pos)` makes
    * each task's rows contiguous-and-ordered per shard, and
    * `partitionBy` splits the task output into per-shard files. No
    * global sort anywhere — the layout cost is one shuffle of
    * (doc_id, shard, pos, text). The reference's equivalent is its
    * final concat sink (O10, `ControlServiceImpl.java:397-427`) — a
    * real file artifact, not just an assignment. */
  def writeShuffleShards(spark: SparkSession, dir: String, outDir: String): Unit =
    shuffleExport(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id")
      .repartition(ExportShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  /** Write-then-reread gate for [[writeShuffleShards]]: exports the
    * shards, reads them back, and returns the (doc_id, shard, pos)
    * layout — hash-gated against the SAME oracle as `shuffle_export`,
    * so the round-trip (shuffle write → parquet → scan) must reproduce
    * the assignment bit-for-bit. Per-file row ordering is asserted
    * separately in CorpusSpec.
    *
    * The export goes to a per-(input, JVM) scratch path in overwrite
    * mode ([[graft.sources.TempDirs]]): fixed within a JVM so repeated
    * Bench/Verify/plan-audit calls don't accumulate corpus copies,
    * pid-isolated so concurrent JVMs never race on one output dir,
    * and removed at JVM exit. The explicit read
    * schema (partition column included) makes the empty-corpus case
    * return an empty frame instead of failing parquet schema
    * inference. NOTE this registered form eagerly writes at
    * DataFrame-construction time — inherent to gating a SINK: the
    * artifact must exist before the re-read plan can. */
  def shuffleExportWrite(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.TempDirs.scratch("shards", dir)
    writeShuffleShards(spark, dir, out)
    spark.read.schema("doc_id LONG, pos LONG, text STRING, shard INT").parquet(out)
      .select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
  }

  private[operators] val CompactSmallFiles = 64
  private[operators] val CompactTargetFiles = 4

  /** Small-file compaction — the OPTIMIZE/maintenance primitive that
    * keeps a streamed-in or over-partitioned table readable: a
    * many-tiny-files layout (here [[CompactSmallFiles]] files,
    * deliberately written as the "before" state) is rewritten to
    * [[CompactTargetFiles]] right-sized files, and the re-read is
    * gated against the source rows — compaction must be free of row
    * loss/duplication. At 100 TB the target count comes from bytes
    * (total/size per file, or `maxRecordsPerFile` + AQE coalescing)
    * rather than a constant, and the rewrite runs per partition of a
    * date-partitioned table; the shape — read small, one round-robin
    * repartition, write big, verify — is exactly this. Both writes go
    * to the pid-scoped scratch ([[graft.sources.TempDirs]]); eager
    * write at construction is the sink-gate precedent. LayoutSpec
    * asserts the before/after file counts. */
  def compactFiles(spark: SparkSession, dir: String): DataFrame = {
    val scratch = graft.sources.TempDirs.scratch("compact", dir)
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      .repartition(CompactSmallFiles)
      .write.mode("overwrite").parquet(s"$scratch/small")
    spark.read.parquet(s"$scratch/small")
      .repartition(CompactTargetFiles)
      .write.mode("overwrite").parquet(s"$scratch/compacted")
    spark.read.schema("doc_id LONG, lang STRING, n_chars LONG")
      .parquet(s"$scratch/compacted")
  }

  /** Data-mixing rates: given a token budget of half the corpus split
    * equally across languages, the per-language keep-rate and expected
    * token yield — the arithmetic a pipeline runs to turn "target
    * mixture" into per-stratum sampling rates (upsample the tail,
    * downsample the head). The global totals come from uncorrelated
    * scalar subqueries — Spark executes them as one-value Subquery
    * plans (driver metadata, like AQE stats), NOT a 1-row join, so no
    * nested-loop shape appears. Every number derives from integral
    * counts through exactly-rounded IEEE ops (one multiply, one
    * divide), so both engines produce identical doubles. */
  /** Shared arithmetic text for [[mixWeights]] — the SAME characters
    * run on Spark and DuckDB: with explicit DOUBLE casts every step is
    * an exactly-rounded IEEE op on integer-derived values, so the
    * doubles are bit-identical (decimal literals would silently flip
    * either engine into decimal arithmetic with different rounding).
    * The corpus totals are INLINE scalar subqueries, not a 1-row CROSS
    * JOIN: Spark plans each as a one-value Subquery stage (driver
    * metadata), where the join form would plan a BroadcastNestedLoopJoin
    * — the shape the plan audit bans. */
  private val KeepRateSql =
    "least(CAST(1.0 AS DOUBLE), " +
      "CAST(CAST((SELECT sum(n_tokens) FROM t) AS BIGINT) AS DOUBLE) * CAST(0.5 AS DOUBLE) " +
      "/ CAST(CAST((SELECT count(*) FROM t) AS BIGINT) AS DOUBLE) " +
      "/ CAST(n_tokens AS DOUBLE))"

  /** Capped source mixing — the OVER-REPRESENTATION guard of a
    * training mix, beside [[mixWeights]]' quality proportions and
    * [[epochPlan]]'s repeat factors: no source may exceed 30% of the
    * token budget (the C4/Pile-style dominance cap); clipped mass
    * redistributes to under-cap sources proportional to their own
    * mass, in ONE round (a receiver may end above cap — full
    * waterfilling iterates; the single round is the documented
    * contract, exactly replayable). All arithmetic is
    * cleared-denominator integral: over-cap test n_i·10 > N·3, cap
    * floor (N·3) div 10, add_i = (freed·n_i) div Σ_under n. When
    * EVERY source is over cap the freed mass stays unallocated
    * (documented — there is no under-cap receiver). Scale shape:
    * scan-resident token counts fold partial+final to |sources|
    * rows; the two scalar passes ([[ScalarJoin]]) ride the persisted
    * fold. */
  def sourceCap(spark: SparkSession, dir: String): DataFrame =
    sourceCapOf(
      Tables.documents(spark, dir)
        .select(col("source"),
          size(TextAnalysis.toksOf(col("text"))).cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("n_tokens")))

  /** The cap+redistribute arithmetic over a folded (source, n_tokens)
    * relation — factored so the spec can plant an over-cap corpus
    * (the fixture's ~20 balanced sources never bind the cap). */
  private[operators] def sourceCapOf(folded: DataFrame): DataFrame = {
    val g = folded.persistScoped()
    val t1 = g.agg(sum(col("n_tokens")).as("nt"))
    val withN = ScalarJoin.attachScalar(g, col("n_tokens"), t1, col("nt"))
      .withColumn("cap", expr("(cast(nt as decimal(38,0)) * 3) div 10"))
      .withColumn("capped", least(col("n_tokens"), col("cap")).cast("long"))
      .withColumn("over", (col("n_tokens") > col("cap")).cast("long"))
      .persistScoped()
    val t2 = withN.agg(
      sum(col("n_tokens") - col("capped")).as("freed"),
      sum(when(col("over") === 0L, col("n_tokens")).otherwise(0L)).as("u"))
    ScalarJoin.attachScalar(withN, col("n_tokens"), t2, col("freed"))
      .withColumn("final_alloc",
        col("capped") + when(col("over") === 0L,
          expr("cast((cast(freed as decimal(38,0)) * n_tokens) div greatest(u, 1) as bigint)"))
          .otherwise(0L))
      .select(col("source"), col("n_tokens"), col("capped"), col("final_alloc"),
        expr("cast((cast(final_alloc as decimal(38,0)) * 1048576) div nt as bigint)")
          .as("final_share_q"))
  }

  private def sourceCapSql: String =
    s"""WITH d AS (SELECT source, CAST(len(${TextAnalysis.ToksSql}) AS BIGINT) AS n FROM documents),
       |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
       |t AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS nt FROM g),
       |w AS (SELECT g.source, g.n_tokens,
       |        CAST(least(CAST(g.n_tokens AS HUGEINT), (t.nt * 3) // 10) AS BIGINT) AS capped,
       |        CASE WHEN CAST(g.n_tokens AS HUGEINT) > (t.nt * 3) // 10
       |             THEN 1 ELSE 0 END AS over, t.nt
       |      FROM g, t),
       |f AS (SELECT CAST(sum(n_tokens - capped) AS HUGEINT) AS freed,
       |        CAST(sum(CASE WHEN over = 0 THEN n_tokens ELSE 0 END) AS HUGEINT) AS u
       |      FROM w)
       |SELECT w.source, w.n_tokens, w.capped,
       |  CAST(w.capped + CASE WHEN w.over = 0
       |       THEN (f.freed * w.n_tokens) // greatest(f.u, 1) ELSE 0 END AS BIGINT)
       |    AS final_alloc,
       |  CAST(((w.capped + CASE WHEN w.over = 0
       |         THEN (f.freed * w.n_tokens) // greatest(f.u, 1) ELSE 0 END)
       |        * CAST(1048576 AS HUGEINT)) // w.nt AS BIGINT) AS final_share_q
       |FROM w, f""".stripMargin

  private val TokenBudget = 1000000L

  /** Largest-remainder (Hamilton) apportionment of a fixed token
    * budget across sources — the EXACT-SUM allocation step a
    * training-mix planner runs after proportions are chosen
    * ([[mixWeights]] picks proportions, [[sourceCap]] bounds them;
    * THIS turns them into integer token quotas that sum to the
    * budget EXACTLY): base_i = (n_i·B) div N, and the L = B − Σbase
    * leftover tokens go one each to the L largest remainders
    * (ties → source asc) — floor-only allocation under-ships up to
    * |sources|−1 tokens, and naive rounding can over-ship; Hamilton
    * is the standard exact apportionment. Σalloc ≡ B is an EXECUTED
    * spec assertion, as is the quota-monotonicity bound
    * |alloc_i − quota_i| < 1 (alloc ∈ {base, base+1}). All
    * arithmetic DECIMAL(38) cleared-denominator. Scale shape: one
    * scan-resident token fold to |sources| rows; the remainder rank
    * is a window over that folded relation (fold-below-window);
    * scalars attach via [[ScalarJoin]]. */
  def tokenBudgetPlan(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetOf(
      Tables.documents(spark, dir)
        .select(col("source"),
          size(TextAnalysis.toksOf(col("text"))).cast("long").as("n"))
        .groupBy(col("source")).agg(sum(col("n")).as("n_tokens")),
      TokenBudget)

  /** The apportionment arithmetic over a folded (source, n_tokens)
    * relation — factored for planted-corpus spec checks. */
  private[operators] def tokenBudgetOf(folded: DataFrame, budget: Long): DataFrame = {
    val g = folded.persistScoped()
    val t = g.agg(sum(col("n_tokens")).as("nt"))
    val q = ScalarJoin.attachScalar(g, col("n_tokens"), t, col("nt"))
      .withColumn("base",
        expr(s"cast((cast(n_tokens as decimal(38,0)) * $budget) div nt as bigint)"))
      .withColumn("rem",
        expr(s"cast((cast(n_tokens as decimal(38,0)) * $budget) % nt as bigint)"))
      .persistScoped()
    val t2 = q.agg(sum(col("base")).as("sb"))
    val w = Window.orderBy(col("rem").desc, col("source").asc)
    ScalarJoin.attachScalar(q, col("n_tokens"), t2, col("sb"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("extra",
        when(col("rk") <= lit(budget) - col("sb"), 1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("base"), col("extra"),
        (col("base") + col("extra")).as("alloc"))
  }

  private def tokenBudgetPlanSql: String =
    s"""WITH d AS (SELECT source, CAST(len(${TextAnalysis.ToksSql}) AS BIGINT) AS n
       |           FROM documents),
       |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
       |t AS (SELECT CAST(sum(n_tokens) AS HUGEINT) AS nt FROM g),
       |q AS (SELECT g.source, g.n_tokens,
       |        CAST((CAST(g.n_tokens AS HUGEINT) * $TokenBudget) // t.nt AS BIGINT) AS base,
       |        CAST((CAST(g.n_tokens AS HUGEINT) * $TokenBudget) % t.nt AS BIGINT) AS rem
       |      FROM g, t),
       |s AS (SELECT CAST(sum(base) AS BIGINT) AS sb FROM q),
       |r AS (SELECT q.*, s.sb,
       |        row_number() OVER (ORDER BY q.rem DESC, q.source ASC) AS rk
       |      FROM q, s)
       |SELECT source, n_tokens, base,
       |  CAST(CASE WHEN rk <= $TokenBudget - sb THEN 1 ELSE 0 END AS BIGINT) AS extra,
       |  CAST(base + CASE WHEN rk <= $TokenBudget - sb THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM r""".stripMargin

  /** Source-mixing weights — per-source token mass and the
    * keep-probability that flattens the mixture to the target
    * proportion (the data-mixing step before corpus packing). */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-doc counts in one narrow typed pass: the BPE merge loop is
    // the real context-window currency (packSequences precedent); the
    // regex word count stays the keep-rate basis so the mixing
    // arithmetic below remains pure SQL-replayable IEEE ops
    val perDoc = Tables.documents(spark, dir).select(col("lang"), col("text"))
      .as[(String, String)]
      .map { case (lang, text) =>
        val ws = TextAnalysis.tokenize(text)
        (lang, ws.length.toLong, ws.map(w => TextAnalysis.bpeTokens(w).toLong).sum)
      }
      .toDF("lang", "n_toks", "n_bpe")
    SqlViews.withViews(spark, "doc_counts" -> perDoc)(
      s"""WITH t AS (
         |  SELECT lang, count(*) AS n_docs,
         |    sum(n_toks) AS n_tokens, sum(n_bpe) AS n_bpe_tokens
         |  FROM doc_counts GROUP BY lang)
         |SELECT lang, n_docs, n_tokens, n_bpe_tokens,
         |  $KeepRateSql AS keep_rate,
         |  $KeepRateSql * CAST(n_tokens AS DOUBLE) AS exp_tokens
         |FROM t""".stripMargin)
  }

  /** Per-source epoch/repeat plan — the data-constrained-scaling step
    * AFTER [[mixWeights]] decides proportions: to rebalance the
    * corpus to a uniform per-source token budget (target = total div
    * n_sources), how many passes ("epochs", ×100) over each source
    * fill its quota? Sources above target subsample (epochs < 100);
    * sources below repeat — CAPPED at 4 epochs (×100 = 400), the
    * published diminishing-returns ceiling for repeating pretraining
    * data (Muennighoff et al. 2023), with the unfillable remainder
    * emitted as `deficit_tokens` (the "go find more of this source"
    * signal). Every column is one truncating integer division from
    * exact token counts — hash-exact cross-engine.
    *
    * Scale shape: one narrow scan folds to |sources| rows
    * partial+final; the totals row attaches back by broadcast
    * ([[ScalarJoin]] — never a cross join); everything after is
    * |sources|-row metadata arithmetic. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"),
        size(TextAnalysis.toksOf(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .persistScoped()
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    ScalarJoin.attachScalar(per, col("n_docs"), tot, col("n_sources"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("total_tokens div n_sources").as("target_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("target_tokens"),
        // greatest(n, 1): a source whose docs are ALL empty (n_tokens
        // = 0) must not NULL (Spark div) / error (DuckDB //) the plan
        // row — it reads as an unfillable source: epochs explode past
        // the 400 cap, planned caps, deficit stays ≈ target
        expr("(target_tokens * 100) div greatest(n_tokens, 1)").as("epochs_x100"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("target_tokens"),
        col("epochs_x100"),
        least(col("epochs_x100"), lit(400L)).as("planned_x100"),
        greatest(lit(0L),
          col("target_tokens") - expr("(least(epochs_x100, 400) * n_tokens) div 100"))
          .as("deficit_tokens"))
  }

  /** One-row dataset card — the corpus-level summary a dataset
    * release ships (datasheet/data-card practice): document and
    * token totals, language and source diversity, exact-duplicate
    * mass (docs whose md5(text) collides with another's — the
    * dedup_exact rule) and its 2²⁰-lattice share, and mean tokens
    * per doc. Every figure is an exact integral aggregate, so the
    * card is hash-reproducible — a release whose card drifts from a
    * re-derivation has a provenance problem.
    *
    * Scale shape: one scan folds to a 1-row aggregate + one
    * (md5 → count) partial+final for the dup mass; the two 1-row
    * frames meet by [[ScalarJoin]] broadcast. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextAnalysis.toksOf(col("text"))).cast("long")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    val dups = d.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("n_dup_docs"))
    ScalarJoin.attachScalar(base, col("n_docs"), dups, col("n_dup_docs"))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
        col("n_dup_docs"),
        expr("n_tokens div n_docs").as("mean_doc_tokens"),
        expr("(n_dup_docs * 1048576) div n_docs").as("dup_share_q"))
  }

  /** Data-driven balanced downsampling — the companion to the
    * fixed-rate [[TextAnalysis.docSampleStratified]]: per-language
    * keep thresholds are COMPUTED from the corpus in the same job
    * (every language downsampled to the smallest one's document
    * count) instead of hard-coded, i.e. the "rebalance the mix"
    * step that must re-derive its rates whenever the corpus grows.
    * The keep decision is integral end to end: a 32-bit md5 content
    * hash (nibbles 9–16 — disjoint from docSplit/shuffleExport/
    * docSample's ranges, so the draws are independent) quantized to
    * 2⁻²⁰ granularity against `thr = (2²⁰·n_min) div n_lang`; the
    * smallest language gets thr = 2²⁰ exactly and keeps every row.
    * 2²⁰·n_min stays far inside BIGINT at any corpus size (n_min ≤
    * 8.8·10¹² before overflow), where a 2³²-scaled threshold would
    * not. Scale shape: the per-lang threshold table is |langs| rows
    * — broadcast; the decision itself rides the scan as a narrow
    * filter, so the op costs one tiny count aggregate plus a scan. */
  def sampleBalanced(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // persisted: the |langs|-row count table feeds BOTH the n_min
    // aggregate and the per-lang threshold join — unpersisted, each
    // consumer re-derives its own full scan+aggregate of the corpus
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang")).persistScoped()
    val nmin = counts.agg(min(col("n_lang")).as("n_min"))
    val thr = ScalarJoin.attachScalar(counts, col("n_lang"), nmin, col("n_min"))
      .select(col("lang"), expr("(1048576 * n_min) div n_lang").as("thr"))
    d.join(broadcast(thr), "lang")
      .filter(expr("cast(conv(substring(md5(cast(text as binary)), 9, 8), 16, 10) as bigint) div 4096")
        < col("thr"))
      .select(col("doc_id"), col("lang"), col("thr"))
  }

  /** Importance (weighted Bernoulli / PPS) sampling — each document
    * kept with probability proportional to its weight, here the
    * capped length `w = min(n_chars, 400)` (the
    * proportional-to-size draw a pipeline uses when estimating
    * token-level statistics from a document sample: long docs carry
    * more tokens, so they must be over-drawn by exactly their
    * length). Deterministic: the coin is 16 content-hash bits — hex
    * chars [17,21) of md5(text), a nibble range DISJOINT from every
    * other sampling op's (balanced 9–16, shuffle_export 5–8,
    * doc_sample 1–4, pack 21–24, contamination 29–32), so decisions
    * are independent across operators. Keep test is the
    * cross-multiplied form `h·cap < 2¹⁶·w` — no truncating division,
    * exact in both engines; products ≤ 2¹⁶·400 never leave int64.
    * Scale shape: a pure per-row predicate riding the scan — zero
    * shuffle, zero driver state, any corpus size. */
  def importanceSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        least(col("n_chars"), lit(400L)).as("w"),
        conv(substring(md5(col("text").cast("binary")), 17, 4), 16, 10)
          .cast("long").as("h"))
      .filter(col("h") * lit(400L) < lit(65536L) * col("w"))

  /** Curriculum phase assignment — the quality-staged data-ordering
    * step of a pretraining pipeline (cleanest data in early phases):
    * per language, documents rank by an INTEGER quality key
    * (stopword-hits-per-million-tokens — the integral form of the
    * stopword ratio, exact in both engines) and split into 3 ntile
    * phases, ties broken by doc_id so the layout is bit-stable.
    * Scale shape: one narrow scan computing the key, one exchange on
    * lang, a spilling window sort per language (the sessionize
    * shape — languages process in parallel); at extreme per-key
    * cardinality you'd swap ntile for sampled phase BOUNDARIES
    * (tiny agg + broadcast + narrow map), same output contract. */
  def corpusCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextAnalysis.toksOf(col("text"))
    val nStop = size(filter(toks, t => t.isin(TextAnalysis.Stopwords: _*)))
    val w = Window.partitionBy("lang")
      .orderBy(col("quality_key").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        nStop.cast("long").as("n_stop"), size(toks).cast("long").as("n_tok"))
      .select(col("doc_id"), col("lang"),
        expr("CAST((n_stop * 1000000) DIV greatest(n_tok, 1) AS BIGINT)")
          .as("quality_key"))
      .withColumn("phase", ntile(3).over(w).cast("long"))
  }

  /** Span-corruption planning (T5/UL2-style denoising pretraining):
    * for every document, select the token spans to mask. Spans are
    * chosen per fixed 8-token window — one span per window, start
    * offset and length drawn from md5 arithmetic on (doc_id, window)
    * — so they are non-overlapping BY CONSTRUCTION, ~25% noise
    * density, and deterministic: every rerun and every engine plans
    * the same masks (rand() would give a different corpus per run).
    * Emits (doc_id, span_id, span_start, span_len) clipped to the
    * document; the actual sentinel substitution is a narrow map a
    * tokenizer stage applies downstream. Scale shape: one narrow
    * scan computing n_tokens, a sequence() explode of window ids
    * (bounded fan-out, no shuffle), pure hash arithmetic per row. */
  def spanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(TextAnalysis.toksOf(col("text"))).cast("long")
    def h(from: Int): Column = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit("-"),
        col("win").cast("string")).cast("binary")), from, 4), 16, 10).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), nTok.as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), expr("(n_tok - 1) DIV 8"))).as("win"))
      .select(col("doc_id"), col("n_tok"), col("win"),
        (col("win") * 8L + pmod(h(1), lit(6L))).as("span_start"),
        (lit(1L) + pmod(h(5), lit(3L))).as("raw_len"))
      .select(col("doc_id"), col("win").as("span_id"), col("span_start"),
        least(col("raw_len"), col("n_tok") - col("span_start")).as("span_len"))
      .filter(col("span_len") > 0)
  }

  private val TfidfTopK = 5

  /** Top-[[TfidfTopK]] characteristic terms per document by tf·idf —
    * the keyword-extraction / relevance primitive. The idf is the
    * RATIONAL form (N+1)/(df+1) rather than its logarithm: ln() is
    * libm-dependent (last-bit differences across engines would break
    * the hash gate), while integer-derived multiply/divide are
    * exactly-rounded IEEE and therefore bit-identical — and the
    * per-doc ranking is order-isomorphic to the log form. Shape: one
    * explode → (doc,tok) partial+final count, a token-keyed df
    * aggregate joined back (vocabulary-sized, broadcastable), and a
    * per-doc WindowGroupLimit rank — the shuffle never carries text,
    * and N rides a scalar subquery. */
  def tfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    TextFunctions.registerSql(spark)
    SqlViews.withViews(spark, "documents" -> Tables.documents(spark, dir))(
      s"""WITH toks AS (
         |  SELECT doc_id, tok
         |  FROM documents
         |  LATERAL VIEW explode(tokenize(text)) AS tok),
         |tc AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1),
         |scored AS (
         |  SELECT tc.doc_id, tc.tok, tc.tf, dfreq.df,
         |    CAST(tc.tf AS DOUBLE)
         |      * ((CAST((SELECT count(*) FROM documents) AS DOUBLE) + CAST(1.0 AS DOUBLE))
         |         / (CAST(dfreq.df AS DOUBLE) + CAST(1.0 AS DOUBLE))) AS score
         |  FROM tc JOIN dfreq ON tc.tok = dfreq.tok)
         |SELECT doc_id, tok, tf, df, score, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, tok ASC) AS BIGINT) AS rn
         |  FROM scored) r
         |WHERE rn <= $TfidfTopK""".stripMargin)
  }

  private val Bm25TopK = 10
  private val Bm25Terms = Seq("dup", "join", "scan")

  /** Engine-neutral BM25 arithmetic over integer-derived columns
    * (tf, df, dl BIGINT; nd BIGINT; avgdl DOUBLE): k1 = 1.2,
    * b = 0.75, and the RATIONAL idf (N − df + 0.5)/(df + 0.5) — same
    * reasoning as [[tfidfTopk]]'s idf: dropping the ln() keeps every
    * operation an exactly-rounded IEEE primitive, so interpolating
    * THIS string into both engines' SQL yields bit-identical doubles
    * (constants appear as identical literal text: 2.2 = k1+1,
    * 0.25 = 1−b). */
  private val Bm25ScoreSql =
    """((CAST((SELECT nd FROM st) AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |      / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
      |    * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
      |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
      |        * (CAST(0.25 AS DOUBLE)
      |          + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE) / (SELECT avgdl FROM st)))))""".stripMargin

  /** Everything below the tokenizer is engine-neutral SQL — shared
    * verbatim between the Spark query and the DuckDB oracle so the
    * score arithmetic and ranking CANNOT drift. Expects a `toks`
    * CTE (doc_id, tok) to be prepended. */
  private def bm25TailSql: String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""tc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |dls AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |        FROM toks GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS nd,
       |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |       FROM dls),
       |qt AS (SELECT doc_id, tok, tf FROM tc WHERE tok IN ($termList)),
       |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |          FROM qt GROUP BY 1),
       |scored AS (
       |  SELECT qt.tok, qt.doc_id, qt.tf, dfreq.df, dls.dl,
       |    $Bm25ScoreSql AS score
       |  FROM qt
       |  JOIN dfreq ON qt.tok = dfreq.tok
       |  JOIN dls ON qt.doc_id = dls.doc_id)
       |SELECT tok, doc_id, tf, df, dl, score, rn FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY tok
       |    ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rn
       |  FROM scored) r
       |WHERE rn <= $Bm25TopK""".stripMargin
  }

  /** BM25 retrieval: top-[[Bm25TopK]] documents per query term, the
    * ranking primitive of a data-curation search index (and of
    * retrieval-based decontamination). One row per (term, doc) — no
    * cross-term double sum, so determinism never depends on float
    * addition order. Scale shape: same as [[tfidfTopk]] — the shuffle
    * carries (doc_id, tok) token pairs, never text; df and the corpus
    * stats are vocabulary-/scalar-sized (broadcast); the per-term
    * top-k is a WindowGroupLimit. The query-term filter lands
    * directly on the token stream, so the scored relation is
    * |terms| × matching docs, not the full posting list. */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    TextFunctions.registerSql(spark)
    SqlViews.withViews(spark, "documents" -> Tables.documents(spark, dir))(
      s"""WITH toks AS (
         |  SELECT doc_id, tok
         |  FROM documents
         |  LATERAL VIEW explode(tokenize(text)) AS tok),
         |$bm25TailSql""".stripMargin)
  }

  /** The full C4-style cleaning decision, end to end: one row per
    * document with the keep/drop verdict a corpus run would act on and
    * the FIRST failing gate as the reason — `lang` (the heuristic
    * language-ID must say English), then `quality` (minimum token
    * count + nonzero stopword ratio), then `duplicate` (near-dup
    * cluster non-representatives), else `ok`. Composes three gated
    * operators ([[TextAnalysis.langId]], [[TextAnalysis.textQuality]],
    * [[Dedup.dedupKeep]]) into the decision their pipelines exist for;
    * the oracle replays the ENTIRE cascade — language heuristic,
    * quality ratios, recursive-CTE clustering — in one SQL statement.
    *
    * Scale shape: three narrow per-doc derivations joined on doc_id
    * (co-partitioned shuffles of id-keyed rows), plus the (tiny)
    * cluster labels from the dedup path; no new wide state beyond what
    * the composed operators already justify. */
  def corpusClean(spark: SparkSession, dir: String): DataFrame = {
    // language + quality fuse into ONE scan (they tokenize the same
    // way — the shared Column builders keep them in lockstep with
    // langId/textQuality and the oracle). The dedup verdict joins the
    // RAW cluster labels, not the corpus-sized keep manifest: a member
    // is a duplicate iff its label exists and isn't itself, so the
    // join side stays bounded by the near-dup rate and broadcasts
    // (dedupKeep's manifest would be corpus-sized — an avoidable
    // whole-corpus shuffle at 100 TB).
    val toks = TextAnalysis.toksOf(col("text"))
    val lq = Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.predLangOf(toks).as("pred_lang"),
      size(toks).cast("long").as("n_tokens"),
      TextAnalysis.stopRatioOf(toks).as("stopword_ratio"))
    val labels = Dedup.clusterLabels(spark, dir)
      .select(col("id").as("doc_id"), col("lab").as("cluster_id"))
    lq.join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("pred_lang") =!= "en", "lang")
          .when(col("n_tokens") < 15 || col("stopword_ratio") <= 0.0, "quality")
          .when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
            "duplicate")
          .otherwise("ok").as("reason"))
      .withColumn("keep", (col("reason") === "ok").cast("long"))
  }

  /** Packing-efficiency report per shard — the eval that says
    * whether [[packSequences]]' greedy layout actually fills its
    * 2048-token training sequences: per shard the doc count, total
    * BPE tokens, the sequence count `ceil(total div SeqLen)` the
    * layout consumes, the fill share on the 2²⁰ lattice, and the
    * padding waste in tokens. Fill < ~95% means the packer is
    * leaving GPU batch slots empty — the number the training-infra
    * review asks for.
    *
    * Scale shape: one partial+final fold over the packed relation's
    * (shard, n_bpe) columns — the packer's own window machinery is
    * not re-run; its OUTPUT is the input (operator composition, the
    * corpus_clean precedent). */
  def packEfficiency(spark: SparkSession, dir: String): DataFrame =
    packSequences(spark, dir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("total_bpe"))
      .select(col("shard"), col("n_docs"), col("total_bpe"),
        expr(s"cast((total_bpe + ${SeqLen - 1}) div $SeqLen as bigint)").as("n_seqs"))
      .select(col("shard"), col("n_docs"), col("total_bpe"), col("n_seqs"),
        expr(s"cast((cast(total_bpe as decimal(38,0)) * 1048576) div (n_seqs * $SeqLen) as bigint)")
          .as("fill_q"),
        (col("n_seqs") * SeqLen - col("total_bpe")).as("waste_tokens"))

  private def packEfficiencySql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
       |bc AS (
       |  SELECT doc_id, CAST(sum(${TextAnalysis.BpeCaseSql}) AS BIGINT) AS nb
       |  FROM toks GROUP BY doc_id),
       |t AS (
       |  SELECT d.doc_id, ${bucketSql(21, PackShards)} AS shard,
       |    COALESCE(bc.nb, 0) AS n_bpe_tokens
       |  FROM documents d LEFT JOIN bc ON d.doc_id = bc.doc_id),
       |g AS (SELECT shard, count(*) AS n_docs,
       |        CAST(sum(n_bpe_tokens) AS BIGINT) AS total_bpe
       |      FROM t GROUP BY shard)
       |SELECT shard, CAST(n_docs AS BIGINT) AS n_docs, total_bpe,
       |  (total_bpe + ${SeqLen - 1}) // $SeqLen AS n_seqs,
       |  CAST((CAST(total_bpe AS HUGEINT) * 1048576)
       |       // (((total_bpe + ${SeqLen - 1}) // $SeqLen) * $SeqLen) AS BIGINT) AS fill_q,
       |  ((total_bpe + ${SeqLen - 1}) // $SeqLen) * $SeqLen - total_bpe AS waste_tokens
       |FROM g""".stripMargin

  /** Source × language composition matrix — the corpus-governance
    * table ("which crawl sources carry which languages, and in what
    * proportion"): counts per (source, lang) with each cell's share
    * of its SOURCE row on the 2²⁰ lattice — the trade_matrix shape
    * on document metadata. Pure two-aggregate rollup; the row
    * totals broadcast back.
    */
  def sourceLangMix(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = g.groupBy(col("source")).agg(sum(col("n_docs")).as("st"))
    g.join(broadcast(tot), "source")
      .select(col("source"), col("lang"), col("n_docs"),
        expr("cast((cast(n_docs as decimal(38,0)) * 1048576) div st as bigint)")
          .as("source_share_q"))
  }

  private def sourceLangMixSql: String =
    """WITH g AS (SELECT source, lang, count(*) AS n_docs
      |           FROM documents GROUP BY 1, 2),
      |t AS (SELECT source, CAST(sum(n_docs) AS HUGEINT) AS st FROM g GROUP BY 1)
      |SELECT g.source, g.lang, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST((CAST(n_docs AS HUGEINT) * 1048576) // st AS BIGINT) AS source_share_q
      |FROM g JOIN t USING (source)""".stripMargin

  /** Shard-balance report for the [[shuffleExport]] layout — the
    * loader-health check a training job runs before an epoch (one fat
    * shard = one straggling data-loader worker): per shard the row
    * count, its share of the corpus, and its skew vs the ideal
    * uniform shard on the 2²⁰ lattice (2²⁰ = exactly ideal; the max
    * skew_q across shards is the straggler factor). Uses the SAME
    * md5-bucket expression as the export (shared builder — drift-
    * proof) without re-running its positional window. One
    * partial+final fold to [[ExportShards]] rows; the total attaches
    * by [[ScalarJoin]] broadcast. */
  def exportShardBalance(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .select(md5Bucket(5, ExportShards).as("shard"))
      .groupBy(col("shard")).agg(count(lit(1)).as("n_rows"))
      .persistScoped()
    val tot = g.agg(sum(col("n_rows")).as("nt"), count(lit(1)).as("n_shards"))
    ScalarJoin.attachScalar(g, col("n_rows"), tot, col("nt"))
      .select(col("shard"), col("n_rows"),
        expr("cast((n_rows * cast(1048576 as bigint)) div nt as bigint)").as("share_q"),
        expr("cast((n_rows * cast(1048576 as bigint) * n_shards) div nt as bigint)")
          .as("skew_q"))
  }

  private def exportShardBalanceSql: String =
    s"""WITH g AS (SELECT ${bucketSql(5, ExportShards)} AS shard, count(*) AS n_rows
       |           FROM documents GROUP BY 1),
       |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS nt, count(*) AS n_shards FROM g)
       |SELECT shard, CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST((n_rows * 1048576) // nt AS BIGINT) AS share_q,
       |  CAST((n_rows * 1048576 * n_shards) // nt AS BIGINT) AS skew_q
       |FROM g, t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_clean"   -> corpusClean,
    "export_shard_balance" -> exportShardBalance,
    "pack_efficiency" -> packEfficiency,
    "source_lang_mix" -> sourceLangMix,
    "pack_sequences" -> packSequences,
    "contamination"  -> contamination,
    "sample_per_key" -> samplePerKey,
    "dataset_split"  -> datasetSplit,
    "split_balance"  -> splitBalance,
    "export_manifest" -> exportManifest,
    "sample_balanced" -> sampleBalanced,
    "importance_sample" -> importanceSample,
    "shuffle_export" -> shuffleExport,
    "rendezvous_shard" -> rendezvousShard,
    "source_cap" -> sourceCap,
    "token_budget_plan" -> tokenBudgetPlan,
    "shuffle_export_write" -> shuffleExportWrite,
    "mix_weights"    -> mixWeights,
    "curriculum"     -> corpusCurriculum,
    "span_corrupt"   -> spanCorrupt,
    "tfidf_topk"     -> tfidfTopk,
    "bm25_topk"      -> bm25Topk,
    "epoch_plan"     -> epochPlan,
    "clean_funnel"   -> cleanFunnel,
    "corpus_card"    -> corpusCard,
    "compact_files"  -> compactFiles)

  // single source of truth for the DuckDB tokenizer fragment — a
  // local copy here once drifted risk onto pack_sequences/mix_weights
  private val ToksSql = TextAnalysis.ToksSql

  private def bucketSql(from: Int, m: Int): String =
    s"CAST(CAST('0x' || substring(md5(text), $from, 4) AS INTEGER) % $m AS BIGINT)"

  /** Full-cascade replay of [[corpusClean]]: the language CASE, the
    * quality ratios, and the recursive-CTE near-dup clustering all in
    * one statement (the cluster CTEs come verbatim from the dedup
    * oracle, so the two rows can never drift apart). */
  /** CTE prefix ending in `dec(doc_id, reason)` — shared VERBATIM by
    * the `corpus_clean` and `clean_funnel` oracles so the cascade and
    * its attrition view cannot drift apart (the ClusterCtes rule). */
  private val CleanCtes = {
    val score = TextAnalysis.Markers
      .map { case (l, ws) => s"${TextAnalysis.markerSql(ws)} AS s_$l" }.mkString(", ")
    val best = s"greatest(${TextAnalysis.Markers.map { case (l, _) => s"s_$l" }.mkString(", ")})"
    val cascade = TextAnalysis.Markers
      .map { case (l, _) => s"WHEN s_$l = $best AND $best > 0 THEN '$l'" }.mkString(" ")
    val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(",")
    s"""${Dedup.ClusterCtes},
       |lm AS (
       |  SELECT doc_id,
       |    CASE $cascade ELSE 'und' END AS pred_lang,
       |    CAST(len(${TextAnalysis.ToksSql}) AS BIGINT) AS n_tokens,
       |    len(list_filter(${TextAnalysis.ToksSql}, t -> t IN ($stopList)))*1.0
       |      / len(${TextAnalysis.ToksSql}) AS stop_ratio
       |  FROM (SELECT doc_id, text, $score FROM documents) t),
       |dec AS (
       |  SELECT lm.doc_id,
       |    CASE WHEN lm.pred_lang <> 'en' THEN 'lang'
       |         WHEN lm.n_tokens < 15 OR lm.stop_ratio <= 0.0 THEN 'quality'
       |         WHEN cc.cluster_id IS NOT NULL AND cc.cluster_id <> lm.doc_id THEN 'duplicate'
       |         ELSE 'ok' END AS reason
       |  FROM lm LEFT JOIN cc ON cc.id = lm.doc_id)""".stripMargin
  }

  private val CleanSql =
    s"""$CleanCtes
       |SELECT doc_id, reason,
       |  CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM dec""".stripMargin

  /** Gate-attrition funnel over the [[corpusClean]] cascade — the
    * per-stage governance view a curation review reads FIRST ("which
    * gate eats the corpus"): for each sequential gate (lang →
    * quality → duplicate, the cascade's own priority order) the docs
    * entering, surviving, dropped, and the drop share of the stage's
    * input on the 2²⁰ lattice. The cascade's reasons are mutually
    * exclusive in gate order, so sequential attrition is ONE
    * conditional aggregate over corpus_clean's output (operator
    * composition — the pack_efficiency precedent), unpivoted to 3
    * metadata rows by stack(). Degenerate corpora (a stage input of
    * 0) divide by greatest(n, 1) on both engines. */
  def cleanFunnel(spark: SparkSession, dir: String): DataFrame =
    corpusClean(spark, dir)
      .agg(count(lit(1)).as("n0"),
        sum(when(col("reason") === "lang", 1L).otherwise(0L)).as("dl"),
        sum(when(col("reason") === "quality", 1L).otherwise(0L)).as("dq"),
        sum(when(col("reason") === "duplicate", 1L).otherwise(0L)).as("dd"))
      .selectExpr(
        """stack(3,
          |  'lang', n0, n0 - dl, dl,
          |  'quality', n0 - dl, n0 - dl - dq, dq,
          |  'duplicate', n0 - dl - dq, n0 - dl - dq - dd, dd
          |) as (stage, n_in, n_out, n_dropped)""".stripMargin)
      .withColumn("drop_share_q",
        expr("cast((n_dropped * cast(1048576 as bigint)) div greatest(n_in, 1) as bigint)"))

  private def cleanFunnelSql: String =
    s"""$CleanCtes,
       |a AS (SELECT count(*) AS n0,
       |        CAST(sum(CASE WHEN reason = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS dl,
       |        CAST(sum(CASE WHEN reason = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS dq,
       |        CAST(sum(CASE WHEN reason = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS dd
       |      FROM dec)
       |SELECT 'lang' AS stage, CAST(n0 AS BIGINT) AS n_in,
       |  CAST(n0 - dl AS BIGINT) AS n_out, dl AS n_dropped,
       |  CAST((dl * 1048576) // greatest(n0, 1) AS BIGINT) AS drop_share_q FROM a
       |UNION ALL
       |SELECT 'quality', CAST(n0 - dl AS BIGINT), CAST(n0 - dl - dq AS BIGINT), dq,
       |  CAST((dq * 1048576) // greatest(n0 - dl, 1) AS BIGINT) FROM a
       |UNION ALL
       |SELECT 'duplicate', CAST(n0 - dl - dq AS BIGINT),
       |  CAST(n0 - dl - dq - dd AS BIGINT), dd,
       |  CAST((dd * 1048576) // greatest(n0 - dl - dq, 1) AS BIGINT) FROM a""".stripMargin

  val oracles: Map[String, String] = Map(
    // compaction must be row-lossless: the re-read equals the source
    "compact_files" ->
      "SELECT doc_id, lang, n_chars FROM documents",
    "pack_efficiency" -> packEfficiencySql,
    "source_lang_mix" -> sourceLangMixSql,
    "corpus_card" ->
      s"""WITH t AS (SELECT md5(text) AS h, len($ToksSql) AS nt, lang, source
         |           FROM documents),
         |b AS (SELECT count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |        CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM t),
         |d AS (SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS n_dup_docs
         |      FROM (SELECT count(*) AS c FROM t GROUP BY h) g)
         |SELECT n_docs, n_tokens, n_langs, n_sources, n_dup_docs,
         |  CAST(n_tokens // n_docs AS BIGINT) AS mean_doc_tokens,
         |  CAST((n_dup_docs * 1048576) // n_docs AS BIGINT) AS dup_share_q
         |FROM b, d""".stripMargin,
    "epoch_plan" ->
      s"""WITH per AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len($ToksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |             count(*) AS n_sources FROM per),
         |p AS (SELECT per.*,
         |        (SELECT total_tokens // n_sources FROM t) AS target_tokens
         |      FROM per),
         |e AS (SELECT *, (target_tokens * 100) // greatest(n_tokens, 1) AS epochs_x100 FROM p)
         |SELECT source, n_docs, n_tokens, target_tokens,
         |  CAST(epochs_x100 AS BIGINT) AS epochs_x100,
         |  CAST(least(epochs_x100, 400) AS BIGINT) AS planned_x100,
         |  CAST(greatest(0, target_tokens - (least(epochs_x100, 400) * n_tokens) // 100)
         |       AS BIGINT) AS deficit_tokens
         |FROM e""".stripMargin,
    "corpus_clean" -> CleanSql,
    "clean_funnel" -> cleanFunnelSql,
    "export_shard_balance" -> exportShardBalanceSql,
    // windows via generate_series per doc; the same md5 arithmetic
    // plans identical spans, so the mask layout hash-gates
    "span_corrupt" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, n_tok, unnest(range((n_tok - 1) // 8 + 1)) AS win
         |  FROM t WHERE n_tok > 0),
         |s AS (
         |  SELECT doc_id, n_tok, win,
         |    win * 8 + CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(win AS VARCHAR)), 1, 4) AS BIGINT) % 6 AS span_start,
         |    1 + CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(win AS VARCHAR)), 5, 4) AS BIGINT) % 3 AS raw_len
         |  FROM w)
         |SELECT doc_id, CAST(win AS BIGINT) AS span_id,
         |  CAST(span_start AS BIGINT) AS span_start,
         |  CAST(least(raw_len, n_tok - span_start) AS BIGINT) AS span_len
         |FROM s WHERE least(raw_len, n_tok - span_start) > 0""".stripMargin,
    // integral quality key (stopword hits per million tokens) + ntile
    // — both exactly reproducible, so phases hash-gate
    "curriculum" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter($ToksSql, t -> t IN (${TextAnalysis.Stopwords.map(w => s"'$w'").mkString(",")})))
         |         * 1000000 // greatest(len($ToksSql), 1) AS BIGINT) AS quality_key
         |  FROM documents)
         |SELECT doc_id, lang, quality_key,
         |  CAST(ntile(3) OVER (PARTITION BY lang
         |    ORDER BY quality_key DESC, doc_id ASC) AS BIGINT) AS phase
         |FROM t""".stripMargin,
    // window sum(BIGINT) is HUGEINT in DuckDB — cast back before DIV
    // the BPE merge loop replays through the closed-vocabulary CASE
    // lookup (token_count_bpe precedent); zero-word docs re-enter via
    // the LEFT JOIN with 0 counts so they keep their layout slot
    "pack_sequences" ->
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |bc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nt,
         |    CAST(sum(${TextAnalysis.BpeCaseSql}) AS BIGINT) AS nb
         |  FROM toks GROUP BY doc_id),
         |t AS (
         |  SELECT d.doc_id, ${bucketSql(21, PackShards)} AS shard,
         |    COALESCE(bc.nt, 0) AS n_tokens,
         |    COALESCE(bc.nb, 0) AS n_bpe_tokens,
         |    CAST((strlen(text) + 3) // 4 AS BIGINT) AS n_tokens_b4
         |  FROM documents d LEFT JOIN bc ON d.doc_id = bc.doc_id),
         |c AS (
         |  SELECT doc_id, shard, n_tokens, n_bpe_tokens, n_tokens_b4,
         |    CAST(COALESCE(sum(n_bpe_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, shard, n_tokens, n_bpe_tokens, n_tokens_b4,
         |  cum // $SeqLen AS seq_id, cum % $SeqLen AS seq_offset
         |FROM c""".stripMargin,
    "contamination" ->
      s"""WITH toks AS (
         |  ${TextAnalysis.PosToksSql}),
         |tri AS (
         |  SELECT doc_id, w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS shingle,
         |         lead(w,2) OVER win AS w2
         |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM tri WHERE w2 IS NOT NULL),
         |lab AS (
         |  SELECT doc_id,
         |    CASE WHEN ${bucketSql(1, 100)} < 90 THEN 'train'
         |         WHEN ${bucketSql(1, 100)} < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM documents),
         |tr AS (SELECT DISTINCT shingle FROM sh JOIN lab USING(doc_id) WHERE split = 'train'),
         |te AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN lab USING(doc_id) WHERE split = 'test'),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM te GROUP BY 1),
         |hit AS (SELECT doc_id, count(*) AS n_shared
         |        FROM te JOIN tr USING(shingle) GROUP BY 1)
         |SELECT hit.doc_id, tot.n_shingles, hit.n_shared,
         |  hit.n_shared * 1.0 / tot.n_shingles AS shared_ratio
         |FROM hit JOIN tot USING(doc_id)""".stripMargin,
    "sample_per_key" ->
      s"""SELECT doc_id, lang, hkey, rn FROM (
         |  SELECT doc_id, lang,
         |    CAST(CAST('0x' || substring(md5(text), 29, 4) AS INTEGER) % 65536 AS BIGINT) AS hkey,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY CAST(CAST('0x' || substring(md5(text), 29, 4) AS INTEGER) % 65536 AS BIGINT) ASC,
         |               doc_id ASC) AS BIGINT) AS rn
         |  FROM documents) t
         |WHERE rn <= $SamplePerKey""".stripMargin,
    // split is a pure function of doc_id: identical Knuth-hash
    // arithmetic, identical integral 80/90 boundary constants
    "split_balance" -> splitBalanceSql,
    "export_manifest" -> exportManifestSql,
    "dataset_split" ->
      """SELECT doc_id,
        |  CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 3435973836 THEN 'train'
        |       WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 3865470566 THEN 'val'
        |       ELSE 'test' END AS split,
        |  n_chars
        |FROM documents""".stripMargin,
    // thresholds re-derived from the data in both engines; the keep
    // decision is the same BIGINT lattice on a 32-bit content hash
    "importance_sample" ->
      """SELECT doc_id, lang, CAST(least(n_chars, 400) AS BIGINT) AS w,
        |  CAST('0x' || substring(md5(text), 17, 4) AS BIGINT) AS h
        |FROM documents
        |WHERE CAST('0x' || substring(md5(text), 17, 4) AS BIGINT) * 400
        |      < 65536 * least(n_chars, 400)""".stripMargin,
    "sample_balanced" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |m AS (SELECT min(n_lang) AS n_min FROM c),
        |t AS (SELECT lang,
        |        CAST((1048576 * (SELECT n_min FROM m)) // n_lang AS BIGINT) AS thr
        |      FROM c)
        |SELECT d.doc_id, d.lang, t.thr
        |FROM documents d JOIN t USING (lang)
        |WHERE CAST('0x' || substring(md5(d.text), 9, 8) AS BIGINT) // 4096 < t.thr""".stripMargin,
    "rendezvous_shard" -> rendezvousShardSql,
    "source_cap" -> sourceCapSql,
    "token_budget_plan" -> tokenBudgetPlanSql,
    "shuffle_export" ->
      s"""SELECT doc_id, ${bucketSql(5, ExportShards)} AS shard,
         |  CAST(row_number() OVER (PARTITION BY ${bucketSql(5, ExportShards)}
         |    ORDER BY md5(text) ASC, doc_id ASC) - 1 AS BIGINT) AS pos
         |FROM documents""".stripMargin,
    // the round-trip must land on the identical assignment
    "shuffle_export_write" ->
      s"""SELECT doc_id, ${bucketSql(5, ExportShards)} AS shard,
         |  CAST(row_number() OVER (PARTITION BY ${bucketSql(5, ExportShards)}
         |    ORDER BY md5(text) ASC, doc_id ASC) - 1 AS BIGINT) AS pos
         |FROM documents""".stripMargin,
    // IDENTICAL arithmetic text to the Spark side (KeepRateSql):
    // integer-derived values + explicit DOUBLE casts ⇒ every op is
    // exactly-rounded IEEE ⇒ bit-identical doubles on both engines
    "mix_weights" ->
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |bc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nt,
         |    CAST(sum(${TextAnalysis.BpeCaseSql}) AS BIGINT) AS nb
         |  FROM toks GROUP BY doc_id),
         |t AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(COALESCE(bc.nt, 0)) AS BIGINT) AS n_tokens,
         |    CAST(sum(COALESCE(bc.nb, 0)) AS BIGINT) AS n_bpe_tokens
         |  FROM documents d LEFT JOIN bc ON d.doc_id = bc.doc_id
         |  GROUP BY lang)
         |SELECT lang, n_docs, n_tokens, n_bpe_tokens,
         |  $KeepRateSql AS keep_rate,
         |  $KeepRateSql * CAST(n_tokens AS DOUBLE) AS exp_tokens
         |FROM t""".stripMargin,
    "tfidf_topk" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |tc AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT tok, count(*) AS df FROM tc GROUP BY 1),
         |scored AS (
         |  SELECT tc.doc_id, tc.tok, tc.tf, dfreq.df,
         |    CAST(tc.tf AS DOUBLE)
         |      * ((CAST((SELECT count(*) FROM documents) AS DOUBLE) + CAST(1.0 AS DOUBLE))
         |         / (CAST(dfreq.df AS DOUBLE) + CAST(1.0 AS DOUBLE))) AS score
         |  FROM tc JOIN dfreq ON tc.tok = dfreq.tok)
         |SELECT doc_id, tok, tf, df, score, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, tok ASC) AS BIGINT) AS rn
         |  FROM scored) r
         |WHERE rn <= $TfidfTopK""".stripMargin,
    // tokenizer CTE swapped for DuckDB's unnest; everything after is
    // bm25TailSql VERBATIM (shared string), so scores cannot drift
    "bm25_topk" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |$bm25TailSql""".stripMargin)
}
