package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope.ScopedDataset
import graft.functions.TextFunctions
import graft.sources.Tables

/** Text-analysis operators over `documents` (north-star ops; absent
  * from the reference — SURVEY.md §2.2): quality scoring, heuristic
  * language ID, tokenizer-style counting, bottom-k fingerprinting.
  * All are single-pass scans with per-row expressions + one narrow
  * aggregation — embarrassingly parallel at 100 TB.
  */
object TextAnalysis {

  private def charCount(text: Column, charClass: String): Column =
    length(text) - length(regexp_replace(text, charClass, ""))

  private[operators] val Stopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with", "as", "at", "by", "from")

  /** THE Scala-side tokenizer for typed call sites: the
    * [[graft.functions.Tokenize]] kernel on a JVM string — same rule,
    * same code as [[toksOf]] and every DuckDB oracle ([[ToksSql]]), so
    * typed and Column sites cannot disagree on n_tokens. */
  private[graft] def tokenize(text: String): Array[String] =
    TextFunctions.tokenize(text)

  /** Reference tokenization as a Column expression, `array<string>` —
    * shared by the quality/language operators AND corpus_clean's fused
    * scan, so all consumers stay in lockstep with the oracles'
    * [[ToksSql]]. */
  private[operators] def toksOf(text: Column): Column =
    TextFunctions.tokenize(text)

  /** The DuckDB form of the same rule over a `text` column: the one
    * tokenizer fragment every oracle interpolates. */
  private[operators] val ToksSql =
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), t -> t <> '')"

  /** [[ToksSql]] unnested to (doc_id, w, pos) rows, `pos` the token's
    * 1-based position in its document — the input of the oracles'
    * lead-window n-gram builds. */
  private[operators] val PosToksSql =
    s"SELECT doc_id, unnest(toks) AS w, unnest(range(1, len(toks) + 1)) AS pos FROM (SELECT doc_id, $ToksSql AS toks FROM documents) d"

  /** Stopword-hit ratio over a tokenized column. */
  private[operators] def stopRatioOf(toks: Column): Column =
    size(filter(toks, t => t.isin(Stopwords: _*))) / size(toks)

  /** Per-document quality features: the length/punctuation/stopword
    * ratios a pretraining-data pipeline filters on. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(col("text"))
    val nTok = size(toks)
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len"),
      nTok.cast("long").as("n_tokens"),
      (charCount(col("text"), "[^0-9]") / length(col("text"))).as("digit_ratio"),
      (charCount(col("text"), "[^ ]") / length(col("text"))).as("space_ratio"),
      (charCount(col("text"), "[a-zA-Z0-9 ]") / length(col("text"))).as("punct_ratio"),
      stopRatioOf(toks).as("stopword_ratio"),
      (length(col("text")) / nTok).as("chars_per_token"))
  }

  /** Heuristic language ID: count marker-stopword hits per language,
    * pick the max with a fixed precedence order (en > es > de > fr).
    * The same CASE cascade is expressed in the oracle SQL, so the
    * heuristic itself is cross-checked, not just row counts. */
  private[operators] val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"))

  /** The language CASE cascade over a tokenized column — en-first
    * precedence on ties, 'und' when no marker hits. */
  private[operators] def predLangOf(toks: Column): Column = {
    val scores = Markers.map { case (l, ws) =>
      l -> size(filter(toks, t => t.isin(ws: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, s), other) =>
      when(s === best && best > 0, lit(l)).otherwise(other)
    }
  }

  /** N-gram-heuristic language ID — per-language stopword evidence
    * scores folded to an argmax label, all codegen expressions (no
    * UDF); `lang_confusion` evaluates it against the fixture truth. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), predLangOf(toksOf(col("text"))).as("pred_lang"))

  /** Confusion matrix of [[langId]] against ground-truth labels —
    * the evaluation rollup every classifier deployed inside a data
    * pipeline needs next to its predictions (per-class precision/
    * recall derive directly from these cells). One narrow scan + one
    * partial+final count on (lang, pred_lang): O(|langs|²) output at
    * any corpus size. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** Cohen's κ over a confusion-cell relation (lang, pred_lang, n) —
    * factored so the spec can plant hand-computed corpora. All the
    * arithmetic past the cell fold is |labels|²-bounded metadata:
    * N/agree are one scalar aggregate, Σ rowMargin·colMargin is a
    * |labels|-row equi-join, and the κ lattice math runs in driver
    * BigInt (exact; BigInt `/` truncates toward zero — the oracle's
    * sign-symmetric CASE replays exactly that on negative κ). The
    * returned frame is a LocalTableScan (the pca_power shape). */
  private[operators] def kappaOfCells(spark: SparkSession, cells: DataFrame): DataFrame = {
    import spark.implicits._
    val c = cells.persistScoped()
    val t = c.agg(
      coalesce(sum(col("n")), lit(0L)).as("nn"),
      coalesce(sum(when(col("lang") === col("pred_lang"), col("n"))
        .otherwise(0L)), lit(0L)).as("a")).head()
    val (n, a) = (BigInt(t.getLong(0)), BigInt(t.getLong(1)))
    val rm = c.groupBy(col("lang").as("k")).agg(sum(col("n")).as("r"))
    val cm = c.groupBy(col("pred_lang").as("k")).agg(sum(col("n")).as("c"))
    val sRow = rm.join(cm, "k")
      .agg(expr("sum(cast(r as decimal(38,0)) * c)").as("s")).head()
    val s = if (sRow.isNullAt(0)) BigInt(0) else BigInt(sRow.getDecimal(0).toBigInteger)
    val q = BigInt(1048576)
    val poQ = (a * q / (n max BigInt(1))).toLong
    val peQ = (s * q / ((n * n) max BigInt(1))).toLong
    val kappaQ = ((n * a - s) * q / ((n * n - s) max BigInt(1))).toLong
    Seq((n.toLong, a.toLong, poQ, peQ, kappaQ))
      .toDF("n", "n_agree", "po_q", "pe_q", "kappa_q")
  }

  /** Cohen's kappa of [[langId]] against the fixture truth — the
    * chance-corrected agreement coefficient (Cohen 1960), THE
    * inter-annotator / classifier-vs-gold trust scalar a labeling
    * pipeline reports next to raw accuracy: κ = (p_o − p_e)/(1 − p_e)
    * where p_e = Σ_k rowMargin_k·colMargin_k / N² is the
    * agree-by-chance mass — a majority-class labeler scores high p_o
    * but κ ≈ 0. κ goes NEGATIVE legitimately (below-chance
    * agreement), so the division rule is explicit: truncation toward
    * zero on both engines (BigInt `/` and DuckDB integer `//` both
    * truncate; the oracle additionally spells the negative branch as
    * a sign-symmetric CASE so the contract survives an engine whose
    * `//` floors). Emitted on the 2²⁰ lattice with the identity kept
    * in cleared-denominator form, κ_q = ((N·A − S)·2²⁰) div (N² − S)
    * (S ≤ N² by Cauchy–Schwarz, so the denominator is non-negative;
    * greatest(…,1) absorbs the p_e = 1 degeneracy and the empty
    * corpus — both engines then emit a zero row, not NULL/error).
    * Scale shape: [[langConfusion]]'s one narrow scan + partial+final
    * fold to |langs|² cells; everything after is metadata
    * ([[kappaOfCells]]). */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame =
    kappaOfCells(spark, langConfusion(spark, dir))

  /** Fixed BPE merge table, priority order — a real (if small)
    * byte-pair-encoding vocabulary: tokenization starts from single
    * characters (byte fallback — ANY string tokenizes) and applies
    * each merge exhaustively left-to-right, earlier merges enabling
    * later ones ((j,o) then (jo,in) needs (i,n) merged first). The
    * table is a fixed artifact like a shipped tokenizer.json — NOT
    * learned from the corpus at run time, so counts are stable under
    * any data. */
  private[operators] val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"),
    ("i", "n"), ("e", "r"), ("o", "r"), ("a", "r"), ("a", "n"),
    ("d", "a"), ("t", "a"), ("da", "ta"),
    ("s", "c"), ("sc", "an"),
    ("o", "w"), ("r", "ow"),
    ("s", "t"), ("a", "st"), ("f", "ast"),
    ("j", "o"), ("jo", "in"),
    ("k", "e"), ("ke", "y"),
    ("s", "h"), ("h", "a"), ("ha", "sh"),
    ("b", "i"), ("bi", "g"),
    ("d", "u"), ("du", "p"),
    ("l", "e"), ("u", "e"), ("a", "g"))

  /** Subword token count of one word under [[BpeMerges]]: one
    * left-to-right pass per merge (non-overlapping, greedy), the
    * deterministic core of BPE encoding. */
  private[operators] def bpeTokens(word: String): Int = {
    var syms: Vector[String] = word.map(_.toString).toVector
    for ((x, y) <- BpeMerges) {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
          out += x + y; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms.length
  }

  /** Tokenizer-FAITHFUL token counts: the context-window currency of
    * sequence packing, computed by actually running [[bpeTokens]]
    * over every word (typed map — the per-word merge loop is
    * imperative string work, the one place closures beat Columns).
    * Narrow single-pass scan, no shuffle.
    *
    * Oracle strategy: BPE itself is not expressible in one SQL pass,
    * but the fixture vocabulary is CLOSED (31 words at every SF,
    * verified) — so DuckDB replays the count through a CASE lookup
    * generated FROM THE SAME Scala function at build time. The ELSE
    * arm (character count = no merges) exists only for safety; it
    * never fires on the fixtures. */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val ws = tokenize(text)
        (id, ws.length.toLong, ws.map(w => bpeTokens(w).toLong).sum)
      }
      .toDF("doc_id", "n_words", "n_bpe_tokens")
  }

  /** Tokenizer-style counts: whitespace tokens vs a BPE-ish
    * word-or-punctuation regex, plus distinct-token counts. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val ws = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val bpe = regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(ws).cast("long").as("n_ws_tokens"),
      size(bpe).cast("long").as("n_bpe_tokens"),
      size(array_distinct(bpe)).cast("long").as("n_distinct_bpe"))
  }

  /** Bottom-4 document fingerprint: the 4 smallest md5 digests of the
    * doc's distinct trigram shingles, joined with '|'. A tiny stable
    * sketch for containment/near-dup triage (md5 on both engines). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.docShingles(spark, dir)
      .select(col("doc_id"), md5(col("shingle").cast("binary")).as("h"))
      .groupBy("doc_id")
      .agg(array_join(slice(array_sort(collect_set(col("h"))), 1, 4), "|").as("fingerprint"))

  /** Deterministic train/val/test assignment: bucket = first 16 bits
    * of md5(content) mod 100 → 90/5/5. Hashing CONTENT (not doc_id)
    * is the pretraining-pipeline convention: the split survives
    * re-ingestion and re-numbering, and exact duplicates always land
    * in the same split (no train/test leakage through copies). Pure
    * narrow map — embarrassingly parallel at any scale. */
  def docSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("text").cast("binary")), 1, 4), 16, 10).cast("long"), lit(100L))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      bucket.as("bucket"),
      when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"))
  }

  /** Gopher-style repetition signals: token count, distinct tokens,
    * the hottest token's count, top-token ratio and type-token ratio.
    * explode + two partial-agg groupBys keyed by doc — the scale-safe
    * shape (never materializes a doc's token multiset in one task;
    * compare the higher-order-function alternative, which is O(n²)
    * per doc AND interpreted). Zero-token docs are absent by
    * construction on both engines. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_count"),
        (col("top_count") / col("n_tokens")).as("top_ratio"),
        (col("n_distinct") / col("n_tokens")).as("type_token_ratio"))
  }

  private val EmailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val LongNumPat = "[0-9]{3,}"

  /** PII-style redaction: mask emails and long digit runs, count the
    * hits. Plain character-class regexes chosen deliberately — they
    * mean the same thing to Java regex (Spark codegen) and RE2
    * (DuckDB), so the oracle checks the actual redacted text, and the
    * operator stays inside whole-stage codegen (no UDF). */
  def textRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      regexp_replace(regexp_replace(col("text"), EmailPat, "<EMAIL>"), LongNumPat, "<NUM>")
        .as("redacted"),
      size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(LongNumPat), lit(0))).cast("long").as("n_longnums"))

  private val ChunkLen = 64
  private val ChunkStride = 48

  /** Overlapping token-window chunking — the context-window prep step
    * of RAG / pretraining pipelines: chunk i covers token positions
    * [i·stride, i·stride+len), so consecutive chunks share
    * len−stride = 16 tokens of overlap and every token lands in ≥1
    * chunk. Typed flatMap per document (one doc's token array in
    * memory — bounded by the row, not the corpus); emits the chunk
    * text, its bounds, and an md5 chunk hash for downstream
    * chunk-level dedup. */
  def docChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = tokenize(text)
        if (toks.isEmpty) Iterator.empty
        else {
          val nChunks = math.max(1, (toks.length - ChunkLen + ChunkStride - 1) / ChunkStride + 1)
          (0 until nChunks).iterator.map { i =>
            val from = i * ChunkStride
            val until = math.min(toks.length, from + ChunkLen)
            (id, i.toLong, from.toLong, (until - from).toLong,
              toks.slice(from, until).mkString(" "))
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "tok_start", "n_tokens", "chunk_text")
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"), col("n_tokens"),
        md5(col("chunk_text").cast("binary")).as("chunk_hash"))
  }

  /** Storage-overhead audit of the [[docChunks]] configuration — the
    * QA a RAG/pretraining team runs before committing a (len, stride)
    * pair ("how much does the overlap inflate the token store"): per
    * document, the chunk count, the summed chunk tokens, and the
    * inflation factor Σchunk_tokens / n_tokens on the 2²⁰ lattice
    * (2²⁰ = no duplication; the len/stride=64/48 config tops out at
    * 64/48 ≈ 1.33×2²⁰ for long docs, and short docs sit at exactly
    * 2²⁰). Operator composition (the clean_funnel precedent): the
    * chunker runs once; this is one per-doc partial+final fold on
    * top, and the oracle shares [[DocChunksSql]] verbatim.
    * `n_tokens` recovers as max(tok_start + n_tokens) — the last
    * chunk always ends exactly at the document's token count. */
  def chunkOverhead(spark: SparkSession, dir: String): DataFrame =
    docChunks(spark, dir)
      .groupBy(col("doc_id"))
      .agg(max(col("tok_start") + col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("sum_chunk_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        col("sum_chunk_tokens"),
        expr("(sum_chunk_tokens * 1048576) div n_tokens").as("overhead_q"))

  /** Deterministic stratified sampling: a fixed per-language rate via
    * content-hash buckets — the data-mixing primitive (upsample rare
    * languages, downsample the head) that must be reproducible across
    * reruns and engines, which rules out random(). Pure narrow scan. */
  def docSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("text").cast("binary")), 17, 4), 16, 10).cast("long"), lit(100L))
    val rate = when(col("lang") === "en", 10L).otherwise(50L) // % kept
    Tables.documents(spark, dir)
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
  }

  /** Per-document shingle novelty — the corpus-freshness score a
    * pretraining pipeline uses to rank incremental crawls ("how much
    * of this document's trigram mass has the corpus never seen"):
    * a shingle is NOVEL in the lowest-doc_id document that contains
    * it (ingestion order; the dedup_keep min-id convention), and a
    * doc's novelty is its novel share on the 2²⁰ lattice. Boilerplate
    * templates score → 0, fresh prose → 2²⁰; docs under the 3-token
    * shingle width have no shingles and drop (the docShinglesOf
    * contract, pinned in EdgeCaseSpec).
    *
    * Scale shape: distinct (doc, shingle) pairs persist ONCE; the
    * first-occurrence relation is ONE partial+final min-aggregate on
    * the shingle key, the verdict joins back on the SAME key (the
    * partitioning is reused — no second wide shuffle of the pair
    * stream), and the per-doc fold is a second partial+final
    * aggregate. Shuffles carry (hash-sized shingle, id) pairs, never
    * text bodies. */
  def shingleNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.docShingles(spark, dir)
      .repartition(col("shingle")).persistScoped()
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("cast((cast(n_novel as decimal(38,0)) * 1048576) div n_shingles as bigint)")
          .as("novelty_q"))
  }

  /** The DuckDB trigram pipeline (the Dedup ShinglesCte window build,
    * re-stated here up to `sh`) + first-occurrence novelty. */
  private def shingleNoveltySql: String =
    s"""WITH toks AS (
      |  $PosToksSql),
      |tri AS (
      |  SELECT doc_id, w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS shingle,
      |         lead(w,2) OVER win AS w2
      |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM tri WHERE w2 IS NOT NULL),
      |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST((CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS HUGEINT) * 1048576)
      |       // count(*) AS BIGINT) AS novelty_q
      |FROM sh JOIN f USING (shingle)
      |GROUP BY doc_id""".stripMargin

  /** Vocabulary growth curve (Heaps' law, V ∝ Nᵝ) over ingestion
    * order — the corpus-scaling diagnostic that says whether more
    * data still buys new vocabulary: docs cut into ten ingestion
    * deciles by doc_id, each reporting its token occurrences, its
    * NEW types (tokens whose first-occurrence doc lands in the
    * decile — the min-doc_id lattice again) and the cumulative type
    * count. Cumulation over the 10 grouped rows is the pareto_share
    * literal pair EQUI join — never a global window.
    *
    * Scale shape: one explode → per-(token) partial+final min/count...
    * precisely: the (token → first_doc, global tf per decile) both
    * derive from ONE exchange on the token key; everything after is
    * ≤ 10-row metadata. n_docs is one scalar (the pagerank-N rule). */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = toksOf(col("text"))
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    // least(9, ·): the quotient reaches 10+ when doc_ids are sparse or
    // 1-based (max doc_id >= nDocs) — clamped identically in the
    // oracle, so the cumulative literal-pair join's 0..9 key space is
    // total by construction, not by a fixture-density assumption
    // (ADVICE r11). On dense-0-based ids the clamp is the identity.
    val tok = docs.select(col("doc_id"), explode(toks).as("tok"))
      .select(expr(s"least(9L, (doc_id * 10) div $nDocs)").as("bucket"),
        col("doc_id"), col("tok"))
      .repartition(col("tok")).persistScoped()
    val occ = tok.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val newTypes = tok.groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      .select(expr(s"least(9L, (fd * 10) div $nDocs)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val pairs = (for { b <- 0L until 10L; b2 <- 0L to b } yield (b, b2))
      .toDF("bucket", "b2")
    val cum = broadcast(pairs)
      .join(newTypes.select(col("bucket").as("b2"), col("new_types").as("nt2")), "b2")
      .groupBy(col("bucket")).agg(sum(col("nt2")).as("cum_types"))
    // LEFT joins: a saturated decile (zero new types — exactly what
    // Heaps saturation looks like, and what a small synthetic
    // vocabulary produces for every decile after the first) must
    // still report its row
    occ.join(broadcast(newTypes), Seq("bucket"), "left")
      .join(broadcast(cum), Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        coalesce(col("cum_types"), lit(0L)).as("cum_types"))
  }

  private def vocabGrowthSql: String =
    s"""WITH d AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
      |n AS (SELECT count(*) AS n FROM documents),
      |t AS (SELECT least(9, (doc_id * 10) // (SELECT n FROM n)) AS bucket, doc_id, tok FROM d),
      |occ AS (SELECT bucket, count(*) AS n_tokens FROM t GROUP BY 1),
      |ft AS (SELECT tok, min(doc_id) AS fd FROM t GROUP BY 1),
      |nt AS (SELECT least(9, (fd * 10) // (SELECT n FROM n)) AS bucket, count(*) AS new_types
      |       FROM ft GROUP BY 1),
      |c AS (SELECT o.bucket, CAST(coalesce(sum(b.new_types), 0) AS BIGINT) AS cum_types
      |      FROM occ o LEFT JOIN nt b ON b.bucket <= o.bucket GROUP BY 1)
      |SELECT occ.bucket, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(coalesce(nt.new_types, 0) AS BIGINT) AS new_types, c.cum_types
      |FROM occ LEFT JOIN nt USING (bucket) JOIN c USING (bucket)""".stripMargin

  /** Corpus vocabulary head: the 100 most frequent tokens with term
    * and document frequencies — the first step of tokenizer/BPE
    * training and OOV analysis. One explode + one partial+final agg +
    * rank-limit pushdown (TakeOrderedAndProject); the shuffle carries
    * (token, partial tf, partial df) — never positions or text. */
  def vocabTopk(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(100)
  }

  /** Token co-occurrence lift over the top-40 document-frequency
    * vocabulary — the word-association statistic (lift = the monotone
    * exp(PMI) without the log): how much more often two tokens share a
    * document than independence predicts. The score is kept EXACT:
    * `lift_q = (2²⁰·n_docs·co_df) div (df_a·df_b)` in pure integral
    * arithmetic (decimal(38) / HUGEINT intermediates — see the
    * select) — a lattice quantization of n·c_xy/(c_x·c_y) that
    * both engines compute bit-identically, where a float ln()-based
    * PMI would drift by ULPs across engines. Scale shape: the vocab
    * is a TakeOrdered top-k (deterministic df-desc/token-asc order)
    * that BROADCASTS; per-doc pair expansion is bounded by V²/2 pairs
    * (V=40 → ≤780/doc). Two key-only shuffles: (doc_id, tok) longs to
    * co-locate each doc's vocab tokens, then (tok_a, tok_b) partial
    * counts that combine map-side — documents never move. The 1-row
    * corpus total attaches via [[ScalarJoin.attachScalar]] (broadcast
    * HASH join on a non-foldable constant key, not a cross join).
    * Document-frequency semantics: tokens count once per doc
    * (array_distinct before the explode). */
  def cooccurLift(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(col("text"))
    val docTok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(toks)).as("tok"))
    val vocab = docTok.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(40)
    val vt = docTok.join(broadcast(vocab), "tok")
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    vt.as("a")
      .join(vt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"),
        col("a.df").as("df_a"), col("b.df").as("df_b"))
      .agg(count(lit(1)).as("co_df"))
      .transform(pairs => ScalarJoin.attachScalar(
        pairs, col("co_df"), nDocs, col("n_docs")))
      .select(col("tok_a"), col("tok_b"), col("co_df"),
        // wide intermediates (decimal(38) / HUGEINT in the oracle):
        // at 10¹¹ docs the numerator reaches ~10²⁸ and df_a·df_b
        // ~10²², both past int64 — the QUOTIENT is bounded by
        // 2²⁰·n_docs div max(df) ≤ 2²⁰·n_docs, which fits BIGINT,
        // so only the products need width. Same values at any SF.
        expr("(cast(1048576 as decimal(38,0)) * n_docs * co_df) " +
          "div (cast(df_a as decimal(38,0)) * df_b)").as("lift_q"))
  }

  /** Collocation mining — adjacency-bigram PMI (lift), the phrase
    * detector next to [[cooccurLift]]'s doc-level co-occurrence: that
    * one asks "do these words share documents", this one asks "do
    * these words sit NEXT TO each other more than their margins
    * predict" (Mikolov et al. 2013's phrase-join signal).
    *
    * Lattice: with N = Σ bigram count, cl(w1)/cr(w2) the first-/
    * second-position margins (both derivable from the grouped bigram
    * relation itself — no second tokenize pass),
    *
    *   lift_q = min( (2²⁰ · N · c12) div (cl · cr), 2⁴⁰ )
    *
    * Products widen to decimal(38)/HUGEINT exactly like cooccur_lift
    * (at 10¹³ tokens the numerator reaches ~10³², cl·cr ~10²⁶). The
    * un-capped quotient is bounded by 2²⁰·N div max(cl,cr), which for
    * a singleton bigram of two hapax words is 2²⁰·N — past int64 at
    * N ≥ 2⁴³ tokens. The 2⁴⁰ cap (PMI ≈ 2²⁰ lift beyond any
    * linguistic signal) keeps the OUTPUT in BIGINT at any corpus
    * size; both engines cap on the wide type before narrowing.
    *
    * Shape: bigram pairing is ARRAY-LOCAL (`transform` over the
    * token array — zero shuffle, unlike a pos-join formulation that
    * would shuffle the whole token stream); then one partial+final
    * count by (w1,w2); margins are two window sums OVER THE GROUPED
    * relation (O(distinct bigrams), not O(tokens)); N attaches via
    * the non-foldable-key broadcast ([[ScalarJoin]]), never a BNLJ. */
  def bigramPmi(spark: SparkSession, dir: String): DataFrame =
    bigramPmiOf(Tables.documents(spark, dir))

  private[operators] def bigramPmiOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(toksOf(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bg = d.select(explode(expr(
        "transform(slice(toks, 1, size(toks)-1), (w, i) -> struct(w AS w1, toks[i+1] AS w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val c = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")).persistScoped()
    val n = c.agg(sum(col("c12")).as("n_bg"))
    val margins = c
      .withColumn("cl", sum(col("c12")).over(Window.partitionBy("w1")))
      .withColumn("cr", sum(col("c12")).over(Window.partitionBy("w2")))
    ScalarJoin.attachScalar(margins, col("c12"), n, col("n_bg"))
      .select(col("w1"), col("w2"), col("c12"),
        expr("cast(least((cast(1048576 as decimal(38,0)) * n_bg * c12) " +
          "div (cast(cl as decimal(38,0)) * cr), 1099511627776) as bigint)").as("lift_q"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser–Ney 1995,
    * Chen–Goodman 1998) — THE smoothing behind the KenLM scorers that
    * perplexity-filter pretraining corpora (CCNet's quality signal):
    * P(w₂|w₁) = max(c₁₂ − D, 0)/c₁ + λ(w₁)·P_cont(w₂), where the
    * CONTINUATION probability P_cont(w₂) = |{w₁ : c₁₂ > 0}|/|bigram
    * types| replaces the raw unigram (the "San Francisco" effect:
    * "francisco" is frequent but follows only "san" — KN backs off by
    * type diversity, not token mass) and λ(w₁) = D·N₁₊(w₁)/c₁
    * releases exactly the discounted mass. D = 3/4 is an exact dyadic
    * (the Chen–Goodman default ballpark), so the whole model lives on
    * the 2²⁰ lattice: pkn_q = ((4·c₁₂ − 3)·2¹⁸) div c₁ +
    * (3·n1p·pcont_q) div (4·c₁) with pcont_q = (cont₂·2²⁰) div ntypes
    * — nested truncating divisions in a FIXED order (the cramers_v
    * rule: truncation order is part of the contract). Top-100 by
    * (c₁₂ desc, w₁, w₂) keeps the output bounded; every margin is
    * O(|distinct bigrams|).
    *
    * Scale shape: [[bigramPmiOf]]'s array-local pairing (zero token
    * shuffle) + ONE partial+final (w₁, w₂) fold that persists and
    * feeds both margin windows; ntypes attaches via [[ScalarJoin]];
    * the cut is TakeOrderedAndProject. */
  def kneserNey(spark: SparkSession, dir: String): DataFrame =
    kneserNeyOf(Tables.documents(spark, dir))

  private[operators] def kneserNeyOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(toksOf(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bg = d.select(explode(expr(
        "transform(slice(toks, 1, size(toks)-1), (w, i) -> struct(w AS w1, toks[i+1] AS w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val c = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")).persistScoped()
    val n = c.agg(count(lit(1)).as("ntypes"))
    val margins = c
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
      .withColumn("n1p", count(lit(1)).over(Window.partitionBy("w1")))
      .withColumn("cont2", count(lit(1)).over(Window.partitionBy("w2")))
    ScalarJoin.attachScalar(margins, col("c12"), n, col("ntypes"))
      .withColumn("pcont_q",
        expr("cast((cast(cont2 as decimal(38,0)) * 1048576) div ntypes as bigint)"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1p"),
        col("cont2"), col("pcont_q"),
        expr("cast((cast(greatest(4 * c12 - 3, 0) as decimal(38,0)) * 262144) div c1 " +
          "+ (cast(3 as decimal(38,0)) * n1p * pcont_q) div (4 * c1) as bigint)")
          .as("pkn_q"))
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
      .limit(100)
  }

  private def kneserNeySql: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS w,
       |             CAST(unnest(range(len(toks))) AS BIGINT) AS pos
       |      FROM t WHERE len(toks) >= 2),
       |bg AS (SELECT a.w AS w1, b.w AS w2
       |       FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |c AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
       |m AS (SELECT w1, w2, c12,
       |             sum(c12) OVER (PARTITION BY w1) AS c1,
       |             count(*) OVER (PARTITION BY w1) AS n1p,
       |             count(*) OVER (PARTITION BY w2) AS cont2
       |      FROM c),
       |n AS (SELECT count(*) AS ntypes FROM c),
       |f AS (SELECT w1, w2, c12, c1, n1p, cont2,
       |        (CAST(cont2 AS HUGEINT) * 1048576) // ntypes AS pcont_q
       |      FROM m, n)
       |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
       |  CAST(n1p AS BIGINT) AS n1p, CAST(cont2 AS BIGINT) AS cont2,
       |  CAST(pcont_q AS BIGINT) AS pcont_q,
       |  CAST((CAST(greatest(4 * c12 - 3, 0) AS HUGEINT) * 262144) // c1
       |       + (CAST(3 AS HUGEINT) * n1p * pcont_q) // (4 * c1) AS BIGINT) AS pkn_q
       |FROM f
       |ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT 100""".stripMargin

  private[operators] val CmsDepth = 4
  private[operators] val CmsWidth = 16

  /** Count-min point-query counts over the per-language token stream
    * ([[graft.functions.CountMinAgg]]) — the sketch family's "how
    * often did THIS key occur" member, gated like `agg_approx_
    * distinct`: the output carries the EXACT counts (hash-gated
    * cell-exact) plus contract flags for the sketch, so the oracle
    * pins both the referee and the guarantees. `over_ok` asserts the
    * HARD direction (CMS never underestimates — cells only add, under
    * any merge tree); `env_ok` asserts the realized error envelope
    * (est − true) · width ≤ 2n on this corpus — the Markov-bound
    * regime the 16-cell width deliberately forces (the fixture
    * vocabulary is ~31 tokens per language, so collisions are REAL:
    * a width that never collides would gate nothing). The probe side
    * is pure column algebra — `pmod(xxhash64(seed=i), width)` against
    * the broadcast sketch array, the same Catalyst hash the UDAF's
    * update applies, no UDF anywhere.
    *
    * Scale shape: one explode feeds the exact referee (partial+final
    * counts — production keeps only the sketch) and the constant-size
    * sketch aggregate; the |langs|-row sketch and totals broadcast
    * back over the grouped relation. */
  def cmsCounts(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.xxhash64Seeded
    val stream = Tables.documents(spark, dir)
      .select(col("lang"), explode(toksOf(col("text"))).as("tok"))
      .persistScoped()
    val exact = stream.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
    val totals = stream.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val sk = stream.groupBy(col("lang"))
      .agg(graft.functions.CountMinAgg.cms_sketch(col("tok"), CmsDepth, CmsWidth).as("sk"))
    val est = (0 until CmsDepth).map { i =>
      element_at(col("sk"),
        (lit(i * CmsWidth) + pmod(xxhash64Seeded(i.toLong, col("tok")), lit(CmsWidth)))
          .cast("int") + 1)
    }.reduce(least(_, _))
    exact
      .join(broadcast(sk), "lang")
      .join(broadcast(totals), "lang")
      .withColumn("est", est)
      .select(col("lang"), col("tok"), col("cnt"),
        (col("est") >= col("cnt")).cast("long").as("over_ok"),
        ((col("est") - col("cnt")) * CmsWidth <= lit(2L) * col("n")).cast("long").as("env_ok"))
  }

  private[operators] val MgExactCap = 64
  private[operators] val MgSmallCap = 4
  private[operators] val MgTopK = 3

  /** Heavy hitters of the per-language token stream via the
    * Misra-Gries summary ([[graft.functions.MisraGriesAgg]]) — the
    * frequent-items member of the sketch family (HLL, KMV, GK
    * quantiles). Mirrors `agg_approx_distinct`'s two-column gating
    * pattern: the capacity-[[MgExactCap]] sketch is provably EXACT on
    * this corpus (closed fixture vocabulary < 64 distinct tokens per
    * language, so no eviction or merge-subtraction ever fires) and is
    * hash-gated against the true counts; the capacity-[[MgSmallCap]]
    * sketch genuinely evicts, so only its theorem is gateable —
    * underestimate-only, error ≤ n/(c+1), presence guaranteed above
    * that threshold — checked per emitted row in integer arithmetic
    * (5·cnt > n + 5 for the heavy-hitter test: strictly stronger than
    * the theorem's n/5 bound, so presence is safe under ANY merge
    * tree; 5·(cnt − est) ≤ n + 5 for the error envelope).
    *
    * Scale shape: one explode feeds both sketches and the exact
    * referee in a single scan family; every shuffle carries (lang,
    * token, long) or a ≤ c-entry map — never text. The exact referee
    * exists at any SF only because the gate needs it; a production
    * run keeps just the two sketch aggregates (bounded state). */
  def freqTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = Tables.documents(spark, dir)
      .select(col("lang"), explode(toksOf(col("text"))).as("tok"))
    // both sketches ride ONE aggregation; the |langs|-row result is
    // persisted because it feeds two exploded branches (e64/e4) —
    // without the cache each branch re-runs the tokenize + sketch
    // pass (Spark has no cross-branch subplan reuse short of
    // identical exchanges)
    val sk = stream.groupBy("lang").agg(
      graft.functions.MisraGriesAgg.mg_topk(col("tok"), MgExactCap).as("sk64"),
      graft.functions.MisraGriesAgg.mg_topk(col("tok"), MgSmallCap).as("sk4"))
      .persistScoped()
    val exact = stream.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    // stream totals derive from the exact counts (Σ cnt) — one fewer
    // tokenize pass than re-aggregating the exploded stream
    val totals = exact.groupBy("lang").agg(sum(col("cnt")).as("n"))
    val top = exact
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok").asc)))
      .filter(col("rk") <= MgTopK)
    val e64 = sk.select(col("lang"), explode(col("sk64")))
      .toDF("lang", "tok", "est64")
    val e4 = sk.select(col("lang"), explode(col("sk4")))
      .toDF("lang", "tok", "est4")
    val isHh = col("cnt") * 5 > col("n") + 5
    top.join(totals, "lang")
      .join(e64, Seq("lang", "tok"), "left")
      .join(e4, Seq("lang", "tok"), "left")
      .select(col("lang"), col("rk").cast("long").as("rk"), col("tok"),
        col("cnt"), col("n"), col("est64"),
        isHh.as("is_hh"),
        (!isHh || (col("est4").isNotNull && col("est4") <= col("cnt") &&
          (col("cnt") - col("est4")) * 5 <= col("n") + 5)).as("small_cap_ok"))
  }

  /** Rare-token density — an integer-arithmetic perplexity proxy for
    * quality filtering: per document, the mean inverse corpus
    * frequency of its tokens, on the integer lattice (N div tf summed,
    * then div n_tokens — trunc-division BIGINT ops both engines agree
    * on; a real LM perplexity needs log(), whose libm rounding is NOT
    * cross-engine stable). Boilerplate-heavy docs (common tokens
    * everywhere) score low; rare-vocabulary docs score high — the
    * signal a "too templated?" filter thresholds on. The corpus tf
    * table is vocabulary-sized (broadcast); N is one driver scalar
    * (the pagerank/ann_ivf metadata precedent). One explode + one
    * broadcast join + one partial+final aggregate. */
  def docRarity(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksOf(col("text"))).as("tok"))
    val n = toks.count()
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
    toks.join(broadcast(tf), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr(s"$n div tf")).as("rarity_sum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("rarity_sum div n_tokens").as("rarity"))
  }

  /** Char-trigram language-model scoring — the CCNet-style corpus
    * quality filter re-expressed with exactly-replayable arithmetic:
    * train the model on the corpus itself (one groupBy over all
    * character trigrams), then score each document by how COMMON its
    * trigrams are globally. Natural prose is built from frequent
    * trigrams; gibberish, base64 blobs and boilerplate score low on
    * `avg_cnt` or hit `min_cnt` = 1 (a trigram seen nowhere else).
    * The score stays in the BIGINT lattice (`sum(c) div n_tri`, the
    * doc_rarity / pagerank rule) rather than float log-probs: a real
    * perplexity's `ln()` drifts by ULPs across engines, and the
    * monotone commonness ordering is what the filter thresholds on.
    *
    * Scale shape: the trigram universe is bounded (alphabet³-ish —
    * ~100k distinct on real text, independent of corpus size), so the
    * trained model BROADCASTS back over the trigram stream; the wide
    * shuffles carry (trigram, partial count) pairs — never documents.
    * The stream is persisted once and feeds both the training
    * aggregate and the scoring join (the contrastive_pairs rule:
    * a multiply-consumed expensive subtree must not re-derive). */
  def trigramLm(spark: SparkSession, dir: String): DataFrame =
    trigramLmOf(Tables.documents(spark, dir))

  private[operators] def trigramLmOf(docs: DataFrame): DataFrame = {
    val tri = docs
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3)))).as("t"))
      .persistScoped()
    val model = tri.groupBy("t").agg(count(lit(1)).as("c"))
    tri.join(broadcast(model), "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum(col("c")).as("csum"),
        min(col("c")).as("min_cnt"))
      .select(col("doc_id"), col("n_tri"),
        expr("csum div n_tri").as("avg_cnt"), col("min_cnt"))
  }

  /** Integer-exact LM surprisal per document — the CCNet/KenLM
    * perplexity FILTER SHAPE with replayable arithmetic, one tier
    * above [[trigramLm]]'s raw commonness: per trigram t the
    * surprisal in WHOLE BITS, bits(t) = ⌊log₂(N div c_t)⌋ (N = total
    * trigram mass) — rare trigrams cost more bits, exactly the
    * negative-log-prob a perplexity filter sums, quantized to the
    * integer bit so both engines agree bit-for-bit. The log₂ is NOT
    * float log2 (floor(log2(x)) misrounds near huge powers of two —
    * IEEE eps can round 2⁵³−1's log to exactly 53.0): it's the exact
    * "highest power of two ≤ x" via a 64-row pow2 join — the
    * allowlisted by-construction-tiny broadcast BNLJ class, fanning
    * only over the BOUNDED trigram universe, never the corpus. Per
    * doc: n_tri, Σbits, max bits (the rarest trigram — gibberish
    * spikes it), and bits_avg_q on the 2²⁰ lattice (the threshold a
    * filter cuts on; CCNet buckets corpora by exactly this head/
    * middle/tail statistic).
    *
    * Scale shape: the trigram stream persists once and feeds the
    * model fold AND the scoring join (the trigramLm rule); the model
    * is trigram-universe-bounded so it broadcasts; the pow2 fan is
    * 64×|universe|. Doc fold is partial+final. */
  def lmSurprisal(spark: SparkSession, dir: String): DataFrame =
    lmSurprisalOf(spark, Tables.documents(spark, dir))

  private[operators] def lmSurprisalOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val tri = docs
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3)))).as("t"))
      .persistScoped()
    val model0 = tri.groupBy("t").agg(count(lit(1)).as("c"))
    val n = model0.agg(sum(col("c")).as("n_total"))
    val pow2 = (0 to 62).map(k => (k.toLong, 1L << k)).toDF("k", "p")
    val bits = ScalarJoin.attachScalar(model0, col("c"), n, col("n_total"))
      .withColumn("x", expr("n_total div c"))
      .join(broadcast(pow2), col("p") <= col("x"))
      .groupBy(col("t")).agg(max(col("k")).as("bits"))
    tri.join(broadcast(bits), "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum(col("bits")).as("sum_bits"),
        max(col("bits")).as("max_bits"))
      .select(col("doc_id"), col("n_tri"), col("sum_bits"), col("max_bits"),
        expr("cast((sum_bits * 1048576) div n_tri as bigint)").as("bits_avg_q"))
  }

  private def lmSurprisalSql: String =
    """WITH tri AS (
      |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS t
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 2)) AS i
      |        FROM documents WHERE len(text) >= 3)),
      |model AS (SELECT t, count(*) AS c FROM tri GROUP BY 1),
      |n AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM model),
      |pow2 AS (SELECT CAST(k AS BIGINT) AS k,
      |           (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) AS p
      |         FROM (SELECT unnest(range(63)) AS k) z),
      |mb AS (SELECT m.t, max(p2.k) AS bits
      |       FROM model m CROSS JOIN n JOIN pow2 p2 ON p2.p <= (n.nt // m.c)
      |       GROUP BY m.t)
      |SELECT tri.doc_id, count(*) AS n_tri,
      |  CAST(sum(mb.bits) AS BIGINT) AS sum_bits,
      |  CAST(max(mb.bits) AS BIGINT) AS max_bits,
      |  CAST((CAST(sum(mb.bits) AS HUGEINT) * 1048576) // count(*) AS BIGINT) AS bits_avg_q
      |FROM tri JOIN mb USING (t)
      |GROUP BY tri.doc_id""".stripMargin

  /** Surprisal mix report — [[lmSurprisal]] rolled up to (source,
    * whole-bit bucket) counts with in-source shares: the CCNet-style
    * head/middle/tail readout ("how much of each source is
    * low-perplexity prose vs high-surprisal tail") a mixing policy
    * reads before setting sampling weights. The bucket is the
    * average surprisal in WHOLE BITS (bits_avg_q div 2²⁰) — the
    * fixed-grid form of CCNet's tercile split, chosen because
    * integer bit buckets are corpus-independent and replayable while
    * tercile cuts move with the corpus (doclen_percentiles owns the
    * order-statistic form). Scale shape: the surprisal scoring's own
    * folds + ONE doc_id equi-join back to the narrow (doc_id,
    * source) projection + a partial+final (source, bucket) fold. */
  def surprisalBuckets(spark: SparkSession, dir: String): DataFrame = {
    val s = lmSurprisal(spark, dir)
      .select(col("doc_id"), expr("bits_avg_q div 1048576").as("bits_bucket"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val g = s.join(src, "doc_id")
      .groupBy(col("source"), col("bits_bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .persistScoped()
    val tot = g.groupBy(col("source")).agg(sum(col("n_docs")).as("n_src"))
    g.join(tot, "source")
      .select(col("source"), col("bits_bucket"), col("n_docs"),
        expr("cast((cast(n_docs as decimal(38,0)) * 1048576) div n_src as bigint)")
          .as("share_q"))
  }

  private def surprisalBucketsSql: String =
    s"""WITH s AS ($lmSurprisalSql),
       |b AS (SELECT d.source, s.bits_avg_q // 1048576 AS bits_bucket
       |      FROM s JOIN documents d USING (doc_id)),
       |g AS (SELECT source, bits_bucket, count(*) AS n_docs
       |      FROM b GROUP BY 1, 2),
       |t AS (SELECT source, CAST(sum(n_docs) AS HUGEINT) AS n_src
       |      FROM g GROUP BY 1)
       |SELECT g.source, CAST(g.bits_bucket AS BIGINT) AS bits_bucket, g.n_docs,
       |  CAST((CAST(g.n_docs AS HUGEINT) * 1048576) // t.n_src AS BIGINT) AS share_q
       |FROM g JOIN t USING (source)""".stripMargin

  /** Per-SOURCE character-class mix — the char-level provenance
    * screen beside [[textQuality]]'s per-doc ratios and
    * blocklist_filter's source rollup: a source whose corpus is
    * heavy on digits (tables/logs), punctuation (code/markup) or
    * thin on spaces (minified blobs) needs a different cleaning
    * recipe, and this is the ONE-ROW-PER-SOURCE readout a pipeline
    * routes on. Exact integral char counts per class (alpha / digit
    * / space / punct partition every char), shares on the 2²⁰
    * lattice. Scale shape: scan-resident class counts (regexp
    * replace lengths) + one partial+final fold to |sources| rows. */
  def charProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        length(col("text")).cast("long").as("n"),
        charCount(col("text"), "[a-zA-Z]").cast("long").as("alpha"),
        charCount(col("text"), "[0-9]").cast("long").as("digit"),
        charCount(col("text"), "[ ]").cast("long").as("space"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_chars"), sum(col("alpha")).as("n_alpha"),
        sum(col("digit")).as("n_digit"), sum(col("space")).as("n_space"))
      .select(col("source"), col("n_chars"), col("n_alpha"), col("n_digit"),
        col("n_space"),
        (col("n_chars") - col("n_alpha") - col("n_digit") - col("n_space"))
          .as("n_punct"),
        expr("cast((cast(n_alpha as decimal(38,0)) * 1048576) div greatest(n_chars, 1) as bigint)")
          .as("alpha_q"),
        expr("cast((cast(n_digit as decimal(38,0)) * 1048576) div greatest(n_chars, 1) as bigint)")
          .as("digit_q"))

  private def charProfileSql: String =
    """WITH d AS (
      |  SELECT source, CAST(len(text) AS BIGINT) AS n,
      |    CAST(len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS BIGINT) AS alpha,
      |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit,
      |    CAST(len(text) - len(regexp_replace(text, '[ ]', '', 'g')) AS BIGINT) AS space
      |  FROM documents)
      |SELECT source, CAST(sum(n) AS BIGINT) AS n_chars,
      |  CAST(sum(alpha) AS BIGINT) AS n_alpha,
      |  CAST(sum(digit) AS BIGINT) AS n_digit,
      |  CAST(sum(space) AS BIGINT) AS n_space,
      |  CAST(sum(n) - sum(alpha) - sum(digit) - sum(space) AS BIGINT) AS n_punct,
      |  CAST((CAST(sum(alpha) AS HUGEINT) * 1048576) // greatest(sum(n), 1) AS BIGINT) AS alpha_q,
      |  CAST((CAST(sum(digit) AS HUGEINT) * 1048576) // greatest(sum(n), 1) AS BIGINT) AS digit_q
      |FROM d GROUP BY source""".stripMargin

  private val BpeRounds = 8

  /** BPE tokenizer TRAINING on corpus word frequencies (Sennrich et
    * al. 2016, "Neural Machine Translation of Rare Words with Subword
    * Units") — the step upstream of `token_count_bpe`'s fixed-vocab
    * application: [[BpeRounds]] rounds of (count adjacent symbol
    * pairs weighted by word frequency → merge the most frequent pair,
    * ties by (lhs, rhs) ascending). Output is the learned merge table
    * (rk, lhs, rhs, merged, cnt) — the artifact a tokenizer ships.
    *
    * Deterministic-by-construction so DuckDB replays training
    * exactly: words are spelled as space-delimited symbol strings and
    * a merge applies via single-pass left-to-right `replace` of
    * ' lhs rhs ' → ' lhsrhs ' (BOTH space boundaries in the needle,
    * so a needle can never match into a neighboring symbol). That
    * one-pass semantics is the operator contract; it diverges from
    * canonical BPE only on runs of 3+ identical symbols (the pass
    * consumes the shared boundary space — ' a a a ' merges once, not
    * greedily), identically in both engines. No end-of-word marker:
    * merges are intra-word (documented simplification).
    *
    * Scale shape: the corpus-sized work is ONE tokenize+groupBy
    * (map-side combined) building the word-frequency table; every
    * round then scans the VOCABULARY (|V| rows — ~10⁷ at web scale,
    * corpus-size independent), shuffles (symbol-pair, partial count)
    * pairs, and collects exactly one argmax row of driver metadata
    * (the pagerank/ann_ivf precedent). Rounds are the 100 TB knob
    * (real tokenizers run 30k); the per-round shape is fixed. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainOf(spark, Tables.documents(spark, dir))

  private[operators] def bpeTrainOf(spark: SparkSession, docs: DataFrame,
      rounds: Int = BpeRounds): DataFrame = {
    import spark.implicits._
    bpeTrainRun(spark, docs, rounds)._1.toDF("rk", "lhs", "rhs", "merged", "cnt")
  }

  /** The training loop shared by [[bpeTrain]] (returns the merge
    * table) and [[bpeEncode]] (needs the FINAL spelled vocabulary
    * the merges leave behind): (merges, words-after-last-round). */
  private[operators] def bpeTrainRun(spark: SparkSession, docs: DataFrame,
      rounds: Int): (Seq[(Long, String, String, String, Long)], DataFrame) = {
    var words = docs
      .select(explode(toksOf(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wf"))
      .select(concat(lit(" "),
        trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" ")).as("spelled"), col("wf"))
      .persistScoped()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (rk <- 1 to rounds) {
      val top = words
        .select(split(trim(col("spelled")), " ").as("sy"), col("wf"))
        // single-symbol words carry no pairs; Spark's sequence(1, 0)
        // DESCENDS rather than emptying (DuckDB's range(1, 1) is
        // empty), so the guard is also the cross-engine alignment
        .filter(size(col("sy")) >= 2)
        .select(col("wf"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> struct(element_at(sy, i) AS l, element_at(sy, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wf")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      require(top.nonEmpty,
        s"bpe_train: vocabulary exhausted merges before round $rk — corpus too small for $rounds rounds")
      val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((rk.toLong, l, r, l + r, cnt))
      // symbols are [a-z0-9]+ by tokenizer contract — safe to embed
      words = words.withColumn("spelled",
        expr(s"replace(spelled, ' $l $r ', ' $l$r ')")).persistScoped()
    }
    (merges.result(), words)
  }

  /** Tokenizer FERTILITY by language — subwords-per-word under the
    * learned BPE vocabulary, the standard metric for how well a
    * tokenizer fits each language slice of a corpus (fertility ≫ 1
    * on a language means its text costs disproportionate sequence
    * length — the signal behind per-language vocab rebalancing).
    * Emitted as exact integral sums (Σ subwords, Σ words per lang)
    * plus the 10⁻³-lattice ratio, so the gate stays hash-exact.
    * Same scan/broadcast shape as [[bpeEncode]] with the per-doc
    * aggregation re-keyed to (lang): O(languages) output rows. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (_, words) = bpeTrainRun(spark, docs, BpeRounds)
    val enc = words.select(
      regexp_replace(trim(col("spelled")), " ", "").as("w"),
      size(split(trim(col("spelled")), " ")).cast("long").as("n_sub"))
    docs
      .select(col("lang"), explode(toksOf(col("text"))).as("w"))
      .join(broadcast(enc), "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
      .withColumn("fertility_q", expr("(n_subwords * 1000) div n_words"))
  }

  /** Tokenizer APPLICATION — encode the corpus with the merges
    * [[bpeTrain]] just learned (the train→encode pair every LLM data
    * pipeline runs: token budgets, per-doc sequence lengths, and
    * pack planning are all computed under the PRODUCTION tokenizer,
    * not a whitespace proxy). Per document: word count and subword
    * count under the learned [[BpeRounds]]-merge vocabulary.
    *
    * Scale shape: encoding is a VOCABULARY join, not a per-token
    * merge replay — the training loop already leaves each distinct
    * word's final spelled form, so subword length per word is
    * `size(split(spelled))`, the (word → n_sub) table is
    * O(vocabulary) and BROADCASTS, and the corpus-sized work is one
    * tokenize scan + broadcast join + partial+final sum per doc.
    * Documents whose token list is empty keep a 0/0 row (left join),
    * matching token_count_bpe's contract. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeOf(spark, Tables.documents(spark, dir))

  private[operators] def bpeEncodeOf(spark: SparkSession, docs: DataFrame,
      rounds: Int = BpeRounds): DataFrame = {
    val (_, words) = bpeTrainRun(spark, docs, rounds)
    val enc = words.select(
      regexp_replace(trim(col("spelled")), " ", "").as("w"),
      size(split(trim(col("spelled")), " ")).cast("long").as("n_sub"))
    val per = docs
      .select(col("doc_id"), explode(toksOf(col("text"))).as("w"))
      .join(broadcast(enc), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"))
  }

  /** Inverted index build — term → document-frequency, total term
    * frequency, and the HEAD of the posting list (10 lowest doc_ids,
    * comma-joined). The full index at 100 TB is the exploded `tf`
    * relation itself, stored partitioned by term (that IS the posting
    * file layout: all of a term's postings co-located by the
    * term-keyed shuffle); this operator returns the bounded per-term
    * summary so the result stays O(vocabulary) rows with O(1) bytes
    * per row no matter the corpus size — a stopword's posting list
    * never materializes whole anywhere.
    *
    * Shape: one tokenize scan → (term, doc_id) partial+final count
    * (`tf`, persisted — both consumers read it once) → (a) stats agg
    * by term, (b) head via rank-limit: `row_number ≤ 10` BEFORE the
    * `collect_list`, so the per-group sort buffer is the windowed
    * partition, and the collected array is ≤ 10 elements by
    * construction (never an unbounded stopword list in one
    * executor's aggregation buffer). Both (a) and (b) shuffle on
    * `term`; the final join is term-keyed too, so AQE plans it
    * shuffle-free on the co-partitioned sides. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    invertedIndexOf(Tables.documents(spark, dir))

  private[operators] def invertedIndexOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(toksOf(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .persistScoped()
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_sum"))
    val head = tf
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("term")).orderBy(col("doc_id").asc)))
      .filter(col("rn") <= 10)
      .groupBy(col("term"))
      .agg(concat_ws(",", sort_array(collect_list(col("doc_id")))).as("postings_head"))
    stats.join(head, "term")
  }

  private[operators] val OovVocabK = 10

  /** Out-of-vocabulary rate per language against the top-[[OovVocabK]]
    * corpus vocabulary — the coverage metric a tokenizer/vocab
    * decision is judged by (a language whose token mass falls
    * outside the shared vocabulary pays UNK-token information loss;
    * at 2²⁰-lattice precision the rate is exact cross-engine).
    *
    * Shape: ONE tokenize scan into a (lang, tok) partial+final
    * count — the persisted grouped relation (vocabulary-sized, NOT
    * corpus-sized: the freq_topk rule) then feeds all three derived
    * aggregates (global vocab top-k, per-lang totals, per-lang OOV
    * mass via anti join against the broadcast-able 10-row vocab). */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .select(col("lang"), explode(toksOf(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .persistScoped()
    val vocab = g.groupBy(col("tok")).agg(sum(col("c")).as("tf"))
      .orderBy(col("tf").desc, col("tok").asc).limit(OovVocabK)
      .select(col("tok"))
    val tot = g.groupBy(col("lang")).agg(sum(col("c")).as("n_tokens"))
    val oov = g.join(broadcast(vocab), Seq("tok"), "left_anti")
      .groupBy(col("lang")).agg(sum(col("c")).as("n_oov"))
    tot.join(oov, Seq("lang"), "left")
      .select(col("lang"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      // 2²⁰·n_oov wraps int64 once a language carries ≥ 2⁴³ OOV
      // tokens (the dataset_split overflow class) — widen the
      // product; the quotient is ≤ 2²⁰, always BIGINT-safe
      .withColumn("oov_q",
        expr("cast((cast(1048576 as decimal(38,0)) * n_oov) div n_tokens as bigint)"))
  }

  /** Cross-document sentence-level boilerplate screen — the C4-style
    * "repeated line" pass a web-corpus pipeline runs before training
    * (boilerplate navigation/footer sentences recur across pages;
    * [[textRepetition]] is the INTRA-doc cousin): sentences split on
    * terminal punctuation runs, normalized (the [[toksOf]] tokens
    * joined by single spaces — the oracle's lowercase, non-alnum runs
    * collapsed to spaces, trimmed), deduplicated per document,
    * and a sentence is BOILERPLATE when its normalized form appears
    * in ≥ 2 distinct documents. Per doc: distinct-sentence count,
    * boilerplate count, and the 2²⁰-lattice boilerplate share. Scale
    * shape: sentences shuffle as 16-hex-char md5 prefixes (8-byte
    * keys, identical in both engines), never as text; the cross-doc
    * frequency is one partial+final key-only aggregate; the verdict
    * joins back on the same key and folds per doc. Docs whose every
    * sentence normalizes away (pure punctuation) drop out — there is
    * nothing to screen. */
  def sentenceDedup(spark: SparkSession, dir: String): DataFrame = {
    val sents = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "[.!?]+")).as("raw"))
      .select(col("doc_id"), array_join(toksOf(col("raw")), " ").as("s"))
      .filter(length(col("s")) > 0)
      .select(col("doc_id"), substring(md5(col("s")), 1, 16).as("sh"))
      .distinct()
      .persistScoped()
    val freq = sents.groupBy(col("sh")).agg(count(lit(1)).as("ndocs"))
    sents.join(freq, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum(when(col("ndocs") >= 2L, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_q",
        expr("cast((cast(n_boiler as decimal(38,0)) * 1048576) div n_sents as bigint)"))
  }

  private def sentenceDedupSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(unnest(string_split_regex(text, '[.!?]+'))),
      |      '[^a-z0-9]+', ' ', 'g')) AS s
      |  FROM documents),
      |sents AS (
      |  SELECT DISTINCT doc_id, substr(md5(s), 1, 16) AS sh
      |  FROM raw WHERE len(s) > 0),
      |freq AS (SELECT sh, count(*) AS ndocs FROM sents GROUP BY sh)
      |SELECT s.doc_id, count(*) AS n_sents,
      |  CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |  CAST((CAST(sum(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS HUGEINT) * 1048576)
      |       // count(*) AS BIGINT) AS boiler_q
      |FROM sents s JOIN freq f USING (sh)
      |GROUP BY s.doc_id""".stripMargin

  /** Corpus rollup by lang × source — the partition-profile query a
    * pipeline runs before sampling. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Readability profile per source — the Flesch-style complexity
    * screen a corpus-curation pipeline runs to route documents to
    * grade-level buckets, kept on the exact integer lattice instead
    * of the classic float score (whose 206.835/1.015/84.6 constants
    * would only obscure the two ratios that carry all the signal):
    * per source, Σwords, Σsentences, Σvowel-groups (the standard
    * syllable-count heuristic — maximal [aeiou]+ runs, counted over
    * the [[toksOf]] tokens joined by spaces: every character outside
    * [a-z0-9] breaks a run in the oracle's lowered text too), then
    * words-per-sentence and vowel-groups-per-word as 2²⁰-lattice
    * quotients of the corpus-level sums. Sentences count terminal
    * punctuation runs ([.!?]+), floored at 1 per document so
    * headline-style fragments don't divide by zero. All three
    * per-document counts are pure codegen'd regex scalars (count =
    * length difference after collapsing matches) — one scan, no UDF,
    * no explode; the rollup is one partial+final aggregate. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val t = array_join(toksOf(col("text")), " ")
    def runs(c: Column, pat: String): Column =
      length(regexp_replace(regexp_replace(c, pat, "\u0001"), "[^\u0001]", ""))
    val words = size(toksOf(col("text"))).cast("long")
    val sents = greatest(runs(col("text"), "[.!?]+"), lit(1)).cast("long")
    val vgrps = runs(t, "[aeiou]+").cast("long")
    Tables.documents(spark, dir)
      .select(col("source"), words.as("w"), sents.as("s"), vgrps.as("v"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("s")).as("n_sents"), sum(col("v")).as("n_vgroups"))
      .withColumn("wps_q",
        expr("cast((cast(n_words as decimal(38,0)) * 1048576) div n_sents as bigint)"))
      .withColumn("vpw_q",
        expr("cast((cast(n_vgroups as decimal(38,0)) * 1048576) div n_words as bigint)"))
  }

  private def readabilitySql: String =
    s"""WITH p AS (
      |  SELECT source,
      |    CAST(len($ToksSql) AS BIGINT) AS w,
      |    CAST(greatest(len(regexp_replace(regexp_replace(text, '[.!?]+', chr(1), 'g'),
      |      concat('[^', chr(1), ']'), '', 'g')), 1) AS BIGINT) AS s,
      |    CAST(len(regexp_replace(regexp_replace(lower(text), '[aeiou]+', chr(1), 'g'),
      |      concat('[^', chr(1), ']'), '', 'g')) AS BIGINT) AS v
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(w) AS BIGINT) AS n_words, CAST(sum(s) AS BIGINT) AS n_sents,
      |  CAST(sum(v) AS BIGINT) AS n_vgroups,
      |  CAST((CAST(sum(w) AS HUGEINT) * 1048576) // sum(s) AS BIGINT) AS wps_q,
      |  CAST((CAST(sum(v) AS HUGEINT) * 1048576) // sum(w) AS BIGINT) AS vpw_q
      |FROM p GROUP BY source""".stripMargin

  /** Type-token lexical-diversity profile per source — the corpus-
    * governance readout behind "is this crawl source templated spam
    * or genuine prose" (template farms have tiny type inventories;
    * healthy prose carries a long hapax tail): per source the token
    * mass, distinct-type count, hapax count (types occurring exactly
    * once IN that source), TTR on the 2²⁰ lattice, and the hapax
    * share of types. Scale shape: one (source, token) partial+final
    * fold — the only exchange carries (source, tok) pairs — then a
    * per-source rollup whose grouping is a SUBSET of the first fold's
    * keys (no second wide shuffle of raw tokens). Divisions are safe
    * by construction: a source group exists only if it has ≥ 1 token,
    * and n_types ≥ 1 whenever the group exists. */
  def ttrDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(toksOf(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("cast((n_types * cast(1048576 as bigint)) div n_tokens as bigint)").as("ttr_q"),
        expr("cast((n_hapax * cast(1048576 as bigint)) div n_types as bigint)").as("hapax_share_q"))

  private def ttrDiversitySql: String =
    s"""WITH t AS (SELECT source, unnest($ToksSql) AS tok FROM documents),
       |g AS (SELECT source, tok, count(*) AS c FROM t GROUP BY 1, 2)
       |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |  CAST((count(*) * 1048576) // sum(c) AS BIGINT) AS ttr_q,
       |  CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1048576) // count(*) AS BIGINT)
       |    AS hapax_share_q
       |FROM g GROUP BY source""".stripMargin

  private[operators] val DispTopK = 20

  /** Token dispersion (burstiness) of the top-[[DispTopK]] vocabulary
    * — the tf/df concentration screen ("is this frequent token spread
    * across the corpus or bursty inside a few templated docs"; bursty
    * high-tf tokens are boilerplate markers): per top token by total
    * frequency (token asc tiebreak), total tf, containing-doc count
    * df, document coverage on the 2²⁰ lattice, and mean occurrences
    * per containing doc ×100 (truncating). Scale shape: one (tok,
    * doc) fold (tf + df partial-combine in the SAME aggregate via
    * count distinct-free two-level fold), global top-k by
    * TakeOrderedAndProject, and the n_docs anchor broadcast by
    * [[graft.operators.ScalarJoin]]. */
  def tokenDispersion(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val perDoc = d
      .select(col("doc_id"), explode(toksOf(col("text"))).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("tok"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("tok").asc).limit(DispTopK)
    val nd = d.agg(count(lit(1)).as("n_docs"))
    ScalarJoin.attachScalar(perDoc, col("tf"), nd, col("n_docs"))
      .select(col("tok"), col("tf"), col("df"),
        expr("cast((df * cast(1048576 as bigint)) div n_docs as bigint)").as("coverage_q"),
        expr("cast((tf * 100) div df as bigint)").as("mean_tf_x100"))
  }

  private def tokenDispersionSql: String =
    s"""WITH t AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
       |pd AS (SELECT tok, doc_id, count(*) AS c FROM t GROUP BY 1, 2),
       |g AS (SELECT tok, CAST(sum(c) AS BIGINT) AS tf, count(*) AS df FROM pd GROUP BY 1),
       |top AS (SELECT * FROM g ORDER BY tf DESC, tok ASC LIMIT $DispTopK),
       |nd AS (SELECT count(*) AS n_docs FROM documents)
       |SELECT tok, tf, CAST(df AS BIGINT) AS df,
       |  CAST((df * 1048576) // n_docs AS BIGINT) AS coverage_q,
       |  CAST((tf * 100) // df AS BIGINT) AS mean_tf_x100
       |FROM top, nd""".stripMargin

  /** Document-length percentiles per source — discrete (nearest-rank)
    * p10/p50/p90 of per-doc token counts, the length-profile table a
    * curation pipeline reads before setting truncation budgets. Fold-
    * below-window (the drawdown contract): docs fold to (source, len,
    * count) FIRST, the per-source cumulative orders only distinct
    * length values, and each percentile is the smallest length whose
    * cumulative count clears the cross-multiplied nearest-rank bound
    * (cum·10 ≥ n for p10 — exact integers, no interpolation). */
  def doclenPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(spark, dir)
      .select(col("source"), size(toksOf(col("text"))).cast("long").as("len"))
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))
      .persistScoped()
    val tot = lens.groupBy(col("source")).agg(sum(col("c")).as("n_docs"))
    val w = Window.partitionBy(col("source")).orderBy(col("len").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lens.withColumn("cum", sum(col("c")).over(w))
      .join(broadcast(tot), "source")
      .groupBy(col("source"), col("n_docs"))
      .agg(min(when(col("cum") * 10 >= col("n_docs"), col("len"))).as("p10_len"),
        min(when(col("cum") * 2 >= col("n_docs"), col("len"))).as("p50_len"),
        min(when(col("cum") * 10 >= col("n_docs") * 9, col("len"))).as("p90_len"))
      .select(col("source"), col("n_docs"), col("p10_len"), col("p50_len"),
        col("p90_len"))
  }

  private def doclenPercentilesSql: String =
    s"""WITH d AS (SELECT source, CAST(len($ToksSql) AS BIGINT) AS len FROM documents),
       |f AS (SELECT source, len, count(*) AS c FROM d GROUP BY 1, 2),
       |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs FROM f GROUP BY 1),
       |cu AS (SELECT source, len,
       |         sum(c) OVER (PARTITION BY source ORDER BY len
       |           ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM f)
       |SELECT cu.source, t.n_docs,
       |  min(CASE WHEN cum * 10 >= n_docs THEN len END) AS p10_len,
       |  min(CASE WHEN cum * 2 >= n_docs THEN len END) AS p50_len,
       |  min(CASE WHEN cum * 10 >= n_docs * 9 THEN len END) AS p90_len
       |FROM cu JOIN t USING (source)
       |GROUP BY 1, 2""".stripMargin

  private[operators] val NgcTopK = 50

  /** Head-coverage of the bigram distribution — the vocabulary-budget
    * diagnostic ("how much of the corpus's bigram mass do the top-K
    * bigrams carry"; a near-flat cumulative curve means an n-gram LM
    * or phrase table needs a deep vocabulary, a steep one means a
    * small head suffices): the top-[[NgcTopK]] bigrams by count
    * (w1, w2 asc tiebreaks) with each rank's count, share, and the
    * CUMULATIVE head share on the 2²⁰ lattice. Scale shape: bigrams
    * are built SCAN-RESIDENT (zip of the token array with its own
    * tail — no positional self-join), fold partial+final, the top-K
    * is TakeOrderedAndProject, and the cumulative orders only the K
    * retained metadata rows (bounded — never a corpus-sized global
    * window); the total attaches by ScalarJoin broadcast. */
  def ngramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(col("text"))
    val bg = Tables.documents(spark, dir)
      .select(toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .persistScoped()
    val tot = bg.agg(sum(col("cnt")).as("nt"))
    val top = bg.orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
      .limit(NgcTopK)
    val w = Window.orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ScalarJoin.attachScalar(top, col("cnt"), tot, col("nt"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .select(col("rnk"), col("w1"), col("w2"), col("cnt"),
        expr("cast((cnt * cast(1048576 as bigint)) div nt as bigint)").as("share_q"),
        expr("cast((cum * cast(1048576 as bigint)) div nt as bigint)").as("cum_share_q"))
  }

  private def ngramCoverageSql: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS w,
       |             CAST(unnest(range(len(toks))) AS BIGINT) AS pos
       |      FROM t WHERE len(toks) >= 2),
       |bg AS (SELECT a.w AS w1, b.w AS w2, count(*) AS cnt
       |       FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |       GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt FROM bg),
       |top AS (SELECT * FROM bg ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT $NgcTopK),
       |r AS (SELECT w1, w2, cnt,
       |        row_number() OVER (ORDER BY cnt DESC, w1 ASC, w2 ASC) AS rnk,
       |        sum(cnt) OVER (ORDER BY cnt DESC, w1 ASC, w2 ASC
       |          ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM top)
       |SELECT CAST(rnk AS BIGINT) AS rnk, w1, w2, CAST(cnt AS BIGINT) AS cnt,
       |  CAST((cnt * 1048576) // nt AS BIGINT) AS share_q,
       |  CAST((cum * 1048576) // nt AS BIGINT) AS cum_share_q
       |FROM r, tot""".stripMargin

  /** Pairwise vocabulary overlap between sources — the corpus-mixing
    * diagnostic ("are these two crawl sources the same text wearing
    * different provenance, or genuinely complementary"): for every
    * unordered source pair (src_a < src_b) the two type-inventory
    * sizes, the shared-type count, and the vocabulary Jaccard on the
    * 2²⁰ lattice. Near-1 Jaccard across a pair is the
    * mirror-site/syndication signal a [[graft.operators.Dedup]] pass
    * at doc granularity can miss. Scale shape: one (source, token)
    * DISTINCT fold, the intersection a token-keyed self-join of the
    * folded type relation (|V|·sources² worst case, realistically
    * sparse), per-source sizes broadcast onto the |pairs| grid built
    * from the tiny size table itself — absent intersections emit 0,
    * never drop. */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sv = Tables.documents(spark, dir)
      .select(col("source"), explode(toksOf(col("text"))).as("tok"))
      .distinct().persistScoped()
    val sizes = sv.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val inter = sv.as("a").join(sv.as("b"),
        col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = broadcast(sizes.select(col("source").as("src_a"), col("nv").as("nv_a")))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("nv").as("nv_b"))),
        col("src_a") < col("src_b"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("nv_a"), col("nv_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .withColumn("jaccard_q",
        expr("cast((n_inter * cast(1048576 as bigint)) div (nv_a + nv_b - n_inter) as bigint)"))
  }

  private def vocabOverlapSql: String =
    s"""WITH sv AS (SELECT DISTINCT source, unnest($ToksSql) AS tok FROM documents),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM sv GROUP BY 1),
       |iv AS (SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_inter
       |       FROM sv a JOIN sv b ON a.tok = b.tok AND a.source < b.source
       |       GROUP BY 1, 2),
       |p AS (SELECT sa.source AS src_a, sb.source AS src_b, sa.nv AS nv_a, sb.nv AS nv_b
       |      FROM sz sa JOIN sz sb ON sa.source < sb.source)
       |SELECT p.src_a, p.src_b, p.nv_a, p.nv_b,
       |  COALESCE(iv.n_inter, 0) AS n_inter,
       |  CAST((COALESCE(iv.n_inter, 0) * 1048576)
       |       // (p.nv_a + p.nv_b - COALESCE(iv.n_inter, 0)) AS BIGINT) AS jaccard_q
       |FROM p LEFT JOIN iv ON p.src_a = iv.src_a AND p.src_b = iv.src_b""".stripMargin

  /** Per-source Gopher keep rate — the provenance rollup of
    * [[gopherQuality]]'s per-doc battery ("which crawl sources clear
    * the pretraining filter, and at what yield"): per source the doc
    * count, docs passing every rule, and the keep share on the 2²⁰
    * lattice — the number a source-procurement decision reads.
    * Operator composition: the rule battery runs once (scan-resident
    * flags), the source tag joins back on doc_id, and the rollup is
    * one partial+final fold. */
  def qualityBySource(spark: SparkSession, dir: String): DataFrame =
    gopherQuality(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"))
      .withColumn("keep_share_q",
        expr("cast((n_keep * cast(1048576 as bigint)) div n_docs as bigint)"))

  /** End-to-end quality-filter ENSEMBLE — the composed C4/Gopher-
    * style verdict a curation pipeline actually ships (individual
    * signals are diagnostics; the product is one keep/drop per doc
    * WITH the reason): an ordered rule cascade — word-count bounds,
    * mean word length, alpha ratio, stopword evidence (the
    * [[gopherQuality]] battery, identical thresholds), top-token
    * repetition (> 20% — the [[textRepetition]] signal on the exact
    * integer form top·5 > n), and the C4 blocklist — reporting the
    * FIRST failing rule, so drop-reason analytics aggregate directly
    * ("what does each rule cost us?"). Rule order is part of the
    * contract. Scale shape: every scan-resident signal rides one
    * narrow pass; the repetition fold is the only keyed exchange
    * (doc_id), joined back on the same key; docs failing before the
    * repetition rule never depend on the join's null side (empty
    * docs fail too_few_words first — the degenerate-input class). */
  def docQualityEnsemble(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(col("text"))
    val base = Tables.documents(spark, dir).select(col("doc_id"),
      size(toks).cast("long").as("n_words"),
      aggregate(toks, lit(0L), (a, t) => a + length(t)).as("sum_len"),
      size(filter(toks, t => t.rlike("[a-z]"))).cast("long").as("alpha_words"),
      size(array_distinct(filter(toks, t => t.isin(Stopwords: _*))))
        .cast("long").as("stop_distinct"),
      (size(filter(toks, t => t.isin(Blocklist: _*))) > 0)
        .cast("long").as("block_flag"))
    val rep = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksOf(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_count"))
    base.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        when(col("n_words") < 50L, "too_few_words")
          .when(col("n_words") > 100000L, "too_many_words")
          .when(!expr("(sum_len * 100) div greatest(n_words, 1)")
            .between(300L, 1000L), "word_len")
          .when(col("alpha_words") * 5L < col("n_words") * 4L, "alpha_ratio")
          .when(col("stop_distinct") < 2L, "stopwords")
          .when(col("top_count") * 5L > col("n_tokens"), "repetition")
          .when(col("block_flag") === 1L, "blocklist")
          .otherwise("pass").as("reason"))
      .withColumn("keep", (col("reason") === "pass").cast("long"))
  }

  private def docQualityEnsembleSql: String = {
    val stops = Stopwords.map(w => s"'$w'").mkString(",")
    val block = Blocklist.map(w => s"'$w'").mkString(",")
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |f AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_words,
       |  CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS sum_len,
       |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha_words,
       |  CAST(len(list_distinct(list_filter(toks, t -> t IN ($stops)))) AS BIGINT) AS stop_distinct,
       |  CAST(CASE WHEN len(list_filter(toks, t -> t IN ($block))) > 0
       |       THEN 1 ELSE 0 END AS BIGINT) AS block_flag
       |  FROM t),
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |cc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
       |rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |          CAST(max(c) AS BIGINT) AS top_count
       |        FROM cc GROUP BY 1),
       |v AS (
       |  SELECT f.doc_id, f.n_words,
       |    CASE WHEN f.n_words < 50 THEN 'too_few_words'
       |         WHEN f.n_words > 100000 THEN 'too_many_words'
       |         WHEN (f.sum_len * 100) // greatest(f.n_words, 1) NOT BETWEEN 300 AND 1000
       |           THEN 'word_len'
       |         WHEN f.alpha_words * 5 < f.n_words * 4 THEN 'alpha_ratio'
       |         WHEN f.stop_distinct < 2 THEN 'stopwords'
       |         WHEN r.top_count * 5 > r.n_tokens THEN 'repetition'
       |         WHEN f.block_flag = 1 THEN 'blocklist'
       |         ELSE 'pass' END AS reason
       |  FROM f LEFT JOIN rep r ON f.doc_id = r.doc_id)
       |SELECT doc_id, n_words, reason,
       |  CAST(CASE WHEN reason = 'pass' THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM v""".stripMargin
  }

  /** Language-ID margin / mixed-language screen — the confidence
    * tier above [[langId]]'s bare argmax: per document the TOP-2
    * marker-evidence scores under the (score desc, lang asc) total
    * order (the operator's OWN tie rule — [[predLangOf]]'s cascade
    * breaks ties by Markers-table position instead; both are
    * documented contracts), their margin, and the mixed-content flag
    * (two languages with evidence and margin ≤ 1 — the docs a
    * monolingual pipeline should route to segmentation rather than
    * filter by the argmax). Top-2 selection rides a sorted 4-element
    * literal array of (−score, lang) structs — pure codegen
    * expressions, no explode, no shuffle beyond the scan. */
  def langMargin(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(col("text"))
    val entries = Markers.map { case (l, ws) =>
      struct((-size(filter(toks, t => t.isin(ws: _*)))).cast("long").as("ns"),
        lit(l).as("lang"))
    }
    val arr = sort_array(array(entries: _*))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        arr.getItem(0).getField("lang").as("l1"),
        (-arr.getItem(0).getField("ns")).as("s1"),
        (-arr.getItem(1).getField("ns")).as("s2"))
      .select(col("doc_id"), col("lang"),
        when(col("s1") > 0L, col("l1")).otherwise(lit("und")).as("top_lang"),
        col("s1"), col("s2"),
        (col("s1") - col("s2")).as("margin"),
        (col("s1") > 0L && col("s2") > 0L &&
          col("s1") - col("s2") <= 1L).cast("long").as("mixed_flag"))
  }

  private def langMarginSql: String = {
    val scoreSelects = Markers.map { case (l, ws) =>
      val list = ws.map(w => s"'$w'").mkString(", ")
      s"SELECT doc_id, '$l' AS lg, CAST(len(list_filter(toks, t -> t IN ($list))) AS BIGINT) AS s FROM toks"
    }.mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |scores AS (
       |  $scoreSelects),
       |r AS (
       |  SELECT doc_id, lg, s,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lg ASC) AS rn
       |  FROM scores),
       |top AS (
       |  SELECT doc_id,
       |    max(CASE WHEN rn = 1 THEN lg END) AS l1,
       |    CAST(max(CASE WHEN rn = 1 THEN s END) AS BIGINT) AS s1,
       |    CAST(max(CASE WHEN rn = 2 THEN s END) AS BIGINT) AS s2
       |  FROM r WHERE rn <= 2 GROUP BY doc_id)
       |SELECT d.doc_id, d.lang,
       |  CASE WHEN t.s1 > 0 THEN t.l1 ELSE 'und' END AS top_lang,
       |  t.s1, t.s2, t.s1 - t.s2 AS margin,
       |  CAST(CASE WHEN t.s1 > 0 AND t.s2 > 0 AND t.s1 - t.s2 <= 1
       |       THEN 1 ELSE 0 END AS BIGINT) AS mixed_flag
       |FROM documents d JOIN top t ON d.doc_id = t.doc_id""".stripMargin
  }

  /** RAKE keyword extraction (Rose et al. 2010, simplified) — the
    * unsupervised keyphrase miner a corpus-curation pipeline runs for
    * topic inventories and dataset cards, and the PHRASE-level
    * counterpart to [[tfidfTopk]]'s single-token scoring: candidate
    * phrases are maximal runs of non-stopword tokens (delimiter set =
    * [[Stopwords]] only — the documented deviation from classic RAKE,
    * whose delimiters also include punctuation; this operator's
    * tokenizer has already folded punctuation into separators),
    * word score = degree·2²⁰ div freq (degree sums the lengths of
    * every phrase the word occurs in, self included), phrase score =
    * Σ member-occurrence word scores, top 20 under the (score desc,
    * phrase asc) total order. Reciprocal-free integer lattice
    * throughout. Scale shape: ONE keyed exchange on doc_id carries
    * the position window, the phrase-id running sum, AND the
    * per-phrase length count (same partitioning); then two
    * partial+final folds (word stats on tok, distinct phrases) and a
    * TakeOrdered top-20 — no window ever sees more than one doc. */
  def keywordRake(spark: SparkSession, dir: String): DataFrame =
    rakeOf(Tables.documents(spark, dir))

  /** [[keywordRake]]'s core over any (doc_id, text) frame — factored
    * so the spec can plant corpora with hand-computed RAKE scores
    * (on a corpus whose phrases all have length L, every word scores
    * L·2²⁰ and every phrase L²·2²⁰ — executed in EdgeCaseSpec). */
  private[operators] def rakeOf(docs: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val wPhrase = Window.partitionBy(col("doc_id"), col("pid"))
    val marked = docs
      .select(col("doc_id"), posexplode(toksOf(col("text"))))
      .toDF("doc_id", "pos", "tok")
      .withColumn("stop", col("tok").isin(Stopwords: _*).cast("long"))
      .withColumn("pid", sum(col("stop")).over(wDoc))
      .filter(col("stop") === 0L)
      .withColumn("len", count(lit(1)).over(wPhrase))
      .persistScoped()
    val wordStats = marked
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("tok"), expr("(deg * cast(1048576 as bigint)) div freq").as("score_q"))
    marked.groupBy(col("doc_id"), col("pid"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("tok")))),
        e => e("tok")), " ").as("phrase"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"))
      .select(col("phrase"), col("n_occ"), explode(split(col("phrase"), " ")).as("tok"))
      .join(wordStats, "tok")
      .groupBy(col("phrase"), col("n_occ"))
      .agg(sum(col("score_q")).as("score_q"))
      .orderBy(col("score_q").desc, col("phrase").asc)
      .limit(20)
  }

  private def keywordRakeSql: String = {
    val stops = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH toks AS (
       |  $PosToksSql),
       |t2 AS (
       |  SELECT doc_id, w, pos,
       |    CASE WHEN w IN ($stops) THEN 1 ELSE 0 END AS stop
       |  FROM toks),
       |m0 AS (
       |  SELECT doc_id, w, pos, stop,
       |    sum(stop) OVER (PARTITION BY doc_id ORDER BY pos ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
       |  FROM t2),
       |marked AS (SELECT doc_id, w, pos, pid FROM m0 WHERE stop = 0),
       |lens AS (SELECT doc_id, pid, count(*) AS len FROM marked GROUP BY 1, 2),
       |ws AS (
       |  SELECT m.w AS tok,
       |    (CAST(sum(l.len) AS BIGINT) * 1048576) // count(*) AS score_q
       |  FROM marked m JOIN lens l ON m.doc_id = l.doc_id AND m.pid = l.pid
       |  GROUP BY 1),
       |phr AS (
       |  SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos ASC) AS phrase
       |  FROM marked GROUP BY 1, 2),
       |dp AS (SELECT phrase, count(*) AS n_occ FROM phr GROUP BY 1),
       |mem AS (
       |  SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS tok FROM dp)
       |SELECT phrase, n_occ, CAST(sum(ws.score_q) AS BIGINT) AS score_q
       |FROM mem JOIN ws ON mem.tok = ws.tok
       |GROUP BY phrase, n_occ
       |ORDER BY score_q DESC, phrase ASC LIMIT 20""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "keyword_rake"    -> keywordRake,
    "lang_margin"     -> langMargin,
    "doc_quality_ensemble" -> docQualityEnsemble,
    "ngram_coverage"  -> ngramCoverage,
    "vocab_overlap"   -> vocabOverlap,
    "quality_by_source" -> qualityBySource,
    "ttr_diversity"   -> ttrDiversity,
    "token_dispersion" -> tokenDispersion,
    "doclen_percentiles" -> doclenPercentiles,
    "text_quality"    -> textQuality,
    "readability"     -> readability,
    "sentence_dedup"  -> sentenceDedup,
    "lang_id"         -> langId,
    "lang_confusion"  -> langConfusion,
    "cohens_kappa"    -> cohensKappa,
    "oov_rate"        -> oovRate,
    "cms_counts"      -> cmsCounts,
    "token_count"     -> tokenCount,
    "token_count_bpe" -> tokenCountBpe,
    "doc_fingerprint" -> docFingerprint,
    "text_stats"      -> textStats,
    "doc_split"       -> docSplit,
    "text_repetition" -> textRepetition,
    "text_redact"     -> textRedact,
    "vocab_topk"      -> vocabTopk,
    "shingle_novelty" -> shingleNovelty,
    "vocab_growth"    -> vocabGrowth,
    "doc_chunks"      -> docChunks,
    "chunk_overhead"  -> chunkOverhead,
    "doc_sample"      -> docSampleStratified,
    "freq_topk"       -> freqTopk,
    "doc_rarity"      -> docRarity,
    "trigram_lm"      -> trigramLm,
    "bpe_train"       -> bpeTrain,
    "bpe_encode"      -> bpeEncode,
    "bpe_fertility"   -> bpeFertility,
    "tokens_pos"      -> tokensPos,
    "cooccur_lift"    -> cooccurLift,
    "inverted_index"  -> invertedIndex,
    "bigram_pmi"      -> bigramPmi,
    "kneser_ney"      -> kneserNey,
    "lm_surprisal"    -> lmSurprisal,
    "surprisal_buckets" -> surprisalBuckets,
    "char_profile"    -> charProfile,
    "gopher_quality"  -> gopherQuality,
    "blocklist_filter" -> blocklistFilter)

  private[operators] def markerSql(ws: Seq[String]): String =
    s"len(list_filter($ToksSql, t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"

  /** Full DuckDB replay of [[bpeTrain]] — [[BpeRounds]] chained CTE
    * stages, each recomputing pair counts over the vocabulary,
    * selecting the same (cnt desc, lhs, rhs) argmax, and applying the
    * same boundary-delimited single-pass replace. Every stage is AS
    * MATERIALIZED: w_k is referenced by both p_{k+1} and w_{k+1}, and
    * inlined the chain re-derives exponentially (the ann_graph
    * oracle lesson). */
  private def bpeTrainSql: String =
    s"""${bpeCtesPrefix}
       |${(1 to BpeRounds).map { k =>
          s"SELECT CAST($k AS BIGINT) AS rk, l AS lhs, r AS rhs, l || r AS merged, CAST(cnt AS BIGINT) AS cnt FROM b$k"
        }.mkString("\nUNION ALL ")}""".stripMargin

  /** DuckDB replay of [[bpeEncode]]: the SAME training CTE chain as
    * bpe_train's oracle (shared via [[bpeCtesPrefix]], so the two
    * oracles can never drift), then the vocabulary decode + per-doc
    * broadcast-join sum expressed relationally. */
  private def bpeEncodeSql: String =
    s"""${bpeCtesPrefix},
       |enc AS (SELECT replace(trim(spelled), ' ', '') AS w,
       |               CAST(len(string_split(trim(spelled), ' ')) AS BIGINT) AS n_sub
       |        FROM w$BpeRounds),
       |dtoks AS (SELECT doc_id, unnest($ToksSql) AS w FROM documents),
       |per AS (SELECT doc_id, count(*) AS n_words, sum(n_sub) AS n_subwords
       |        FROM dtoks JOIN enc USING (w) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(per.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(coalesce(per.n_subwords, 0) AS BIGINT) AS n_subwords
       |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""".stripMargin

  /** The lang_id CASE-cascade replay, shared by the per-doc oracle
    * and the confusion-matrix rollup. */
  private def langIdSql: String = {
    val score = Markers.map { case (l, ws) => s"${markerSql(ws)} AS s_$l" }.mkString(", ")
    val best = s"greatest(${Markers.map { case (l, _) => s"s_$l" }.mkString(", ")})"
    val cascade = Markers.map { case (l, _) =>
      s"WHEN s_$l = $best AND $best > 0 THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, lang,
       |  CASE $cascade ELSE 'und' END AS pred_lang
       |FROM (SELECT doc_id, lang, $score FROM documents) t""".stripMargin
  }

  /** Same replay as [[bpeEncodeSql]], re-keyed to language. */
  private def bpeFertilitySql: String =
    s"""${bpeCtesPrefix},
       |enc AS (SELECT replace(trim(spelled), ' ', '') AS w,
       |               CAST(len(string_split(trim(spelled), ' ')) AS BIGINT) AS n_sub
       |        FROM w$BpeRounds),
       |dtoks AS (SELECT lang, unnest($ToksSql) AS w FROM documents)
       |SELECT lang, count(*) AS n_words, CAST(sum(n_sub) AS BIGINT) AS n_subwords,
       |  CAST((sum(n_sub) * 1000) // count(*) AS BIGINT) AS fertility_q
       |FROM dtoks JOIN enc USING (w) GROUP BY lang""".stripMargin

  /** The shared training-replay CTE chain: toks, w0, then per round
    * k the pair counts p_k, argmax b_k, and merged vocabulary w_k. */
  private def bpeCtesPrefix: String = {
    val head =
      s"""WITH toks AS (SELECT unnest($ToksSql) AS w FROM documents),
         |w0 AS MATERIALIZED (
         |  SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS spelled,
         |         count(*) AS wf
         |  FROM toks GROUP BY w)""".stripMargin
    val rounds = Rounds.cteChain(BpeRounds) { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT list_extract(sy, i) AS l, list_extract(sy, i + 1) AS r,
         |         sum(wf) AS cnt
         |  FROM (SELECT sy, wf, unnest(range(1, len(sy))) AS i
         |        FROM (SELECT string_split(trim(spelled), ' ') AS sy, wf FROM w${k - 1}))
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT replace(spelled,
         |           ' ' || (SELECT l FROM b$k) || ' ' || (SELECT r FROM b$k) || ' ',
         |           ' ' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || ' ') AS spelled,
         |         wf
         |  FROM w${k - 1})""".stripMargin
    }
    s"$head,\n$rounds"
  }

  /** CASE lookup word → subword count, generated from [[bpeTokens]]
    * over the closed fixture vocabulary — the oracle-side stand-in
    * for replaying the merge loop (see [[tokenCountBpe]]). */
  private[operators] val BpeCaseSql: String = {
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    val arms = vocab.map(w => s"WHEN '$w' THEN ${bpeTokens(w)}").mkString(" ")
    s"CASE tok $arms ELSE length(tok) END"
  }

  /** Gopher-style document quality rules (Rae et al. 2021, the
    * published pretraining-corpus filter battery), re-expressed with
    * exactly-replayable arithmetic: per doc the word count, mean word
    * length (×100, one truncating division), max word length, words
    * containing an alphabetic character, DISTINCT stopwords present,
    * and the composed `keep` flag — word count ∈ [50, 100000], mean
    * length ∈ [3, 10], ≥80 % alphabetic words (exact cross-multiplied
    * 5·alpha ≥ 4·n, no fraction lattice needed for a comparison), ≥2
    * distinct stopwords. All per-row array expressions + no shuffle:
    * embarrassingly parallel at 100 TB, the filter runs ON the scan.
    * (Line-based Gopher rules — bullet/ellipsis line ratios — have no
    * analogue here: fixture documents are single-line by
    * construction.) */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = toksOf(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("sum_len"),
        array_max(transform(col("toks"), t => length(t))).cast("long").as("max_word_len"),
        size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("long").as("alpha_words"),
        size(array_distinct(filter(col("toks"), t => t.isin(Stopwords: _*))))
          .cast("long").as("stop_distinct"))
      .select(col("doc_id"), col("n_words"),
        // greatest(n, 1): an empty/punctuation-only doc (n_words = 0)
        // must land on mean 0 + keep 0 in BOTH engines — unguarded,
        // Spark div emits NULL while DuckDB // raises div-by-zero
        // (the churn_label/vocab_growth degenerate-input class)
        expr("(sum_len * 100) div greatest(n_words, 1)").as("mean_len_x100"),
        col("max_word_len"), col("alpha_words"), col("stop_distinct"),
        (col("n_words").between(50L, 100000L) &&
          expr("(sum_len * 100) div greatest(n_words, 1)").between(300L, 1000L) &&
          (col("alpha_words") * 5L >= col("n_words") * 4L) &&
          col("stop_distinct") >= 2L).cast("long").as("keep"))
  }

  /** Token blocklist for [[blocklistFilter]] — stand-ins for the
    * C4-style "bad words" list (the real deployments swap in their
    * own); chosen from tokens the fixture corpus actually contains so
    * the flag paths execute. */
  private[operators] val Blocklist = Seq("dup", "slow", "error")

  /** C4-style blocklist screening, rolled up per source — the
    * provenance-level view a corpus pipeline acts on (drop or
    * down-weight a SOURCE whose violation share is high, not just
    * the individual docs): per source the doc count, docs containing
    * ≥1 blocklist token, and the violation share on the 2²⁰ lattice.
    * The per-doc decision is a scan-resident array predicate over
    * the shared tokenizer; the rollup is one partial+final count —
    * O(|sources|) output at any corpus size. */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val flagged = size(filter(toksOf(col("text")), t => t.isin(Blocklist: _*))) > 0
    Tables.documents(spark, dir)
      .select(col("source"), flagged.cast("long").as("flag"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("flag")).as("n_flagged"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        expr("(n_flagged * 1048576) div n_docs").as("flag_share_q"))
  }

  /** (doc_id, pos, tok) — every token with its 0-based ordinal, the
    * LATERAL/UNNEST-style reshape a token-level pipeline starts from
    * (position-aware n-gramming, span labeling, windowed attention
    * masks). `posexplode` is the generator form: one narrow pass,
    * output partitioned exactly like the scan, no shuffle at any
    * scale. The oracle zips DuckDB's aligned unnests. */
  def tokensPos(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(toksOf(col("text"))))
      .toDF("doc_id", "pos", "tok")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))

  /** Full Gopher rule-battery replay — shared by the
    * `gopher_quality` and `quality_by_source` oracles. */
  private[operators] lazy val GopherSql: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |f AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_words,
       |  CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS sum_len,
       |  CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT) AS max_word_len,
       |  CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha_words,
       |  CAST(len(list_distinct(list_filter(toks, t -> t IN (${Stopwords.map(w => s"'$w'").mkString(",")})))) AS BIGINT) AS stop_distinct
       |  FROM t)
       |SELECT doc_id, n_words,
       |  CAST((sum_len * 100) // greatest(n_words, 1) AS BIGINT) AS mean_len_x100,
       |  max_word_len, alpha_words, stop_distinct,
       |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
       |        AND (sum_len * 100) // greatest(n_words, 1) BETWEEN 300 AND 1000
       |        AND alpha_words * 5 >= n_words * 4
       |        AND stop_distinct >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM f""".stripMargin

  /** Chunk replay shared verbatim by the `doc_chunks` and
    * `chunk_overhead` oracles (the ClusterCtes rule — a rollup must
    * not be able to drift from its source relation). */
  private val DocChunksSql: String =
    s"""WITH toks AS (
      |  $PosToksSql),
      |tok2 AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS p
      |         FROM toks),
      |n AS (SELECT doc_id, count(*) AS n_tok FROM tok2 GROUP BY 1),
      |ch AS (SELECT doc_id, unnest(range(greatest((n_tok - 64 + 47) // 48, 0) + 1)) AS i FROM n)
      |SELECT t.doc_id, CAST(c.i AS BIGINT) AS chunk_idx,
      |  CAST(c.i * 48 AS BIGINT) AS tok_start,
      |  count(*) AS n_tokens,
      |  md5(string_agg(t.w, ' ' ORDER BY t.p)) AS chunk_hash
      |FROM ch c JOIN tok2 t ON t.doc_id = c.doc_id
      |  AND t.p >= c.i * 48 AND t.p < c.i * 48 + 64
      |GROUP BY 1, 2, 3""".stripMargin

  val oracles: Map[String, String] = Map(
    "keyword_rake" -> keywordRakeSql,
    "lang_margin" -> langMarginSql,
    "doc_quality_ensemble" -> docQualityEnsembleSql,
    "ngram_coverage" -> ngramCoverageSql,
    "vocab_overlap" -> vocabOverlapSql,
    "ttr_diversity" -> ttrDiversitySql,
    "token_dispersion" -> tokenDispersionSql,
    "doclen_percentiles" -> doclenPercentilesSql,
    "shingle_novelty" -> shingleNoveltySql,
    "readability" -> readabilitySql,
    "sentence_dedup" -> sentenceDedupSql,
    "vocab_growth" -> vocabGrowthSql,
    "bigram_pmi" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(toks) AS w,
         |             CAST(unnest(range(len(toks))) AS BIGINT) AS pos
         |      FROM t WHERE len(toks) >= 2),
         |bg AS (SELECT a.w AS w1, b.w AS w2
         |       FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         |c AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |m AS (SELECT w1, w2, c12,
         |             sum(c12) OVER (PARTITION BY w1) AS cl,
         |             sum(c12) OVER (PARTITION BY w2) AS cr
         |      FROM c),
         |n AS (SELECT sum(c12) AS n_bg FROM c)
         |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
         |  CAST(least((CAST(1048576 AS HUGEINT) * n_bg * c12)
         |             // (CAST(cl AS HUGEINT) * cr),
         |             CAST(1099511627776 AS HUGEINT)) AS BIGINT) AS lift_q
         |FROM m, n""".stripMargin,
    "kneser_ney" -> kneserNeySql,
    "lm_surprisal" -> lmSurprisalSql,
    "surprisal_buckets" -> surprisalBucketsSql,
    "char_profile" -> charProfileSql,
    "inverted_index" ->
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2)
         |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_sum,
         |  array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 10), ',') AS postings_head
         |FROM tf GROUP BY term""".stripMargin,
    "tokens_pos" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents)
         |SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
         |  unnest(toks) AS tok
         |FROM t""".stripMargin,
    "token_count_bpe" ->
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |        CAST(sum($BpeCaseSql) AS BIGINT) AS n_bpe_tokens
         |      FROM toks GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(c.n_words, 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(c.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
         |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS len,
         |  CAST(len($ToksSql) AS BIGINT) AS n_tokens,
         |  (length(text) - length(regexp_replace(text, '[^0-9]', '', 'g')))*1.0/length(text) AS digit_ratio,
         |  (length(text) - length(regexp_replace(text, '[^ ]', '', 'g')))*1.0/length(text) AS space_ratio,
         |  (length(text) - length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')))*1.0/length(text) AS punct_ratio,
         |  len(list_filter($ToksSql, t -> t IN (${Stopwords.map(w => s"'$w'").mkString(",")})))*1.0
         |    / len($ToksSql) AS stopword_ratio,
         |  length(text)*1.0 / len($ToksSql) AS chars_per_token
         |FROM documents""".stripMargin,
    "lang_id" -> langIdSql,
    "blocklist_filter" ->
      s"""WITH f AS (
         |  SELECT source,
         |    CASE WHEN len(list_filter($ToksSql,
         |      t -> t IN (${Blocklist.map(w => s"'$w'").mkString(",")}))) > 0
         |    THEN 1 ELSE 0 END AS flag
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(flag) AS BIGINT) AS n_flagged,
         |  CAST((sum(flag) * 1048576) // count(*) AS BIGINT) AS flag_share_q
         |FROM f GROUP BY source""".stripMargin,
    "gopher_quality" -> GopherSql,
    // per-source keep rollup over the SAME rule battery (shared SQL
    // text — the cascade cannot drift from its governance view)
    "quality_by_source" ->
      s"""WITH gq AS ($GopherSql)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(gq.keep) AS BIGINT) AS n_keep,
         |  CAST((sum(gq.keep) * 1048576) // count(*) AS BIGINT) AS keep_share_q
         |FROM gq JOIN documents d USING (doc_id)
         |GROUP BY d.source""".stripMargin,
    // exact referee + contract flags (the agg_approx_distinct rule):
    // both CMS guarantees must hold on every row
    "cms_counts" ->
      s"""WITH t AS (SELECT lang, unnest($ToksSql) AS tok FROM documents)
         |SELECT lang, tok, count(*) AS cnt,
         |  CAST(1 AS BIGINT) AS over_ok,
         |  CAST(1 AS BIGINT) AS env_ok
         |FROM t GROUP BY lang, tok""".stripMargin,
    "oov_rate" ->
      s"""WITH t AS (SELECT lang, unnest($ToksSql) AS tok FROM documents),
         |g AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2),
         |v AS (SELECT tok FROM (
         |    SELECT tok, sum(c) AS tf FROM g GROUP BY tok
         |    ORDER BY tf DESC, tok ASC LIMIT $OovVocabK)),
         |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens FROM g GROUP BY lang),
         |o AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_oov
         |      FROM g WHERE tok NOT IN (SELECT tok FROM v) GROUP BY lang)
         |SELECT tot.lang, tot.n_tokens,
         |  coalesce(o.n_oov, 0) AS n_oov,
         |  CAST((CAST(1048576 AS HUGEINT) * coalesce(o.n_oov, 0))
         |       // tot.n_tokens AS BIGINT) AS oov_q
         |FROM tot LEFT JOIN o ON tot.lang = o.lang""".stripMargin,
    // the classifier-evaluation rollup of the same cascade
    "lang_confusion" ->
      s"""SELECT lang, pred_lang, count(*) AS n
         |FROM ($langIdSql) t2
         |GROUP BY lang, pred_lang""".stripMargin,
    // chance-corrected agreement over the SAME cascade replay; the
    // negative-κ branch truncates sign-symmetrically (BigInt `/`
    // truncates toward zero, DuckDB `//` floors — the CASE aligns them)
    "cohens_kappa" ->
      s"""WITH li AS ($langIdSql),
         |cells AS (SELECT lang, pred_lang, count(*) AS n FROM li GROUP BY 1, 2),
         |t AS (SELECT coalesce(CAST(sum(n) AS HUGEINT), 0) AS nn,
         |        coalesce(CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END)
         |                 AS HUGEINT), 0) AS a
         |      FROM cells),
         |rm AS (SELECT lang AS k, CAST(sum(n) AS HUGEINT) AS r FROM cells GROUP BY 1),
         |cm AS (SELECT pred_lang AS k, CAST(sum(n) AS HUGEINT) AS c FROM cells GROUP BY 1),
         |s AS (SELECT coalesce(CAST(sum(r * c) AS HUGEINT), 0) AS s
         |      FROM rm JOIN cm USING (k))
         |SELECT CAST(t.nn AS BIGINT) AS n, CAST(t.a AS BIGINT) AS n_agree,
         |  CAST((t.a * 1048576) // greatest(t.nn, 1) AS BIGINT) AS po_q,
         |  CAST((s.s * 1048576) // greatest(t.nn * t.nn, 1) AS BIGINT) AS pe_q,
         |  CAST(CASE WHEN t.nn * t.a - s.s >= 0
         |       THEN ((t.nn * t.a - s.s) * 1048576) // greatest(t.nn * t.nn - s.s, 1)
         |       ELSE -(((s.s - t.nn * t.a) * 1048576) // greatest(t.nn * t.nn - s.s, 1))
         |       END AS BIGINT) AS kappa_q
         |FROM t CROSS JOIN s""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS n_distinct_bpe
        |FROM documents""".stripMargin,
    "doc_fingerprint" ->
      s"""WITH toks AS (
        |  $PosToksSql),
        |tri AS (
        |  SELECT doc_id, w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS shingle,
        |         lead(w,2) OVER win AS w2
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT DISTINCT doc_id, md5(shingle) AS h FROM tri WHERE w2 IS NOT NULL),
        |rk AS (SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn FROM sh)
        |SELECT doc_id, string_agg(h, '|' ORDER BY h) AS fingerprint
        |FROM rk WHERE rn <= 4 GROUP BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    "doc_split" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substring(md5(text), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket,
        |  CASE WHEN CAST('0x' || substring(md5(text), 1, 4) AS INTEGER) % 100 < 90 THEN 'train'
        |       WHEN CAST('0x' || substring(md5(text), 1, 4) AS INTEGER) % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "text_repetition" ->
      s"""WITH tc AS (
         |  SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest($ToksSql) AS tok FROM documents) t
         |  GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(c) AS BIGINT) AS n_tokens,
         |  count(*) AS n_distinct,
         |  CAST(max(c) AS BIGINT) AS top_count,
         |  CAST(max(c) AS BIGINT)*1.0 / CAST(sum(c) AS BIGINT) AS top_ratio,
         |  count(*)*1.0 / CAST(sum(c) AS BIGINT) AS type_token_ratio
         |FROM tc GROUP BY doc_id""".stripMargin,
    // N // tf summed then // n_tokens: trunc-division BIGINT lattice,
    // identical in both engines (the pagerank arithmetic rule)
    "doc_rarity" ->
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM toks)
         |SELECT t.doc_id, count(*) AS n_tokens,
         |  CAST(sum((SELECT n FROM n) // f.tf) // count(*) AS BIGINT) AS rarity
         |FROM toks t JOIN tf f ON t.tok = f.tok
         |GROUP BY t.doc_id""".stripMargin,
    // trigram commonness in the BIGINT lattice — substr/len are
    // character-based in both engines, so the trigram streams match
    // byte-for-byte on any utf8 text
    "trigram_lm" ->
      """WITH tri AS (
        |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS t
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, len(text) - 2)) AS i
        |        FROM documents WHERE len(text) >= 3)),
        |model AS (SELECT t, count(*) AS c FROM tri GROUP BY 1)
        |SELECT tri.doc_id, count(*) AS n_tri,
        |  CAST(sum(model.c) // count(*) AS BIGINT) AS avg_cnt,
        |  CAST(min(model.c) AS BIGINT) AS min_cnt
        |FROM tri JOIN model USING (t)
        |GROUP BY tri.doc_id""".stripMargin,
    "bpe_train" -> bpeTrainSql,
    "bpe_encode" -> bpeEncodeSql,
    "bpe_fertility" -> bpeFertilitySql,
    // freq_topk: est64 replays as the exact count (capacity 64 >
    // distinct vocabulary ⇒ the sketch is exact — see the scaladoc);
    // the small-capacity columns replay as the THEOREM: is_hh from
    // integer arithmetic, small_cap_ok a literal TRUE the Spark side
    // must earn via the actual evicting sketch
    "freq_topk" ->
      s"""WITH stream AS (SELECT lang, unnest($ToksSql) AS tok FROM documents),
         |exact AS (SELECT lang, tok, count(*) AS cnt FROM stream GROUP BY 1, 2),
         |totals AS (SELECT lang, count(*) AS n FROM stream GROUP BY 1),
         |top AS (SELECT lang, tok, cnt,
         |          row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rk
         |        FROM exact QUALIFY rk <= $MgTopK)
         |SELECT t.lang, CAST(t.rk AS BIGINT) AS rk, t.tok,
         |  CAST(t.cnt AS BIGINT) AS cnt, CAST(s.n AS BIGINT) AS n,
         |  CAST(t.cnt AS BIGINT) AS est64,
         |  (t.cnt * 5 > s.n + 5) AS is_hh,
         |  TRUE AS small_cap_ok
         |FROM top t JOIN totals s ON t.lang = s.lang""".stripMargin,
    "vocab_topk" ->
      s"""SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM (SELECT doc_id, unnest($ToksSql) AS tok FROM documents) t
         |GROUP BY tok
         |ORDER BY tf DESC, tok ASC
         |LIMIT 100""".stripMargin,
    "cooccur_lift" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, tok
         |  FROM (SELECT doc_id, unnest($ToksSql) AS tok FROM documents) x),
         |v AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok
         |      ORDER BY df DESC, tok ASC LIMIT 40),
         |vt AS (SELECT dt.doc_id, dt.tok, v.df FROM dt JOIN v USING (tok)),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a,
         |             b.df AS df_b, count(*) AS co_df
         |      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |      GROUP BY 1, 2, 3, 4)
         |SELECT tok_a, tok_b, CAST(co_df AS BIGINT) AS co_df,
         |  CAST((CAST(1048576 AS HUGEINT) * n_docs * co_df)
         |       // (CAST(df_a AS HUGEINT) * df_b) AS BIGINT) AS lift_q
         |FROM p, n""".stripMargin,
    // chunk i covers token positions [i*48, i*48+64); greatest(..,0)
    // guards DuckDB's floored // for docs under len-stride tokens
    "doc_chunks" -> DocChunksSql,
    "chunk_overhead" ->
      s"""WITH c AS ($DocChunksSql)
         |SELECT doc_id,
         |  CAST(max(tok_start + n_tokens) AS BIGINT) AS n_tokens,
         |  count(*) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_chunk_tokens,
         |  CAST((CAST(sum(n_tokens) AS BIGINT) * 1048576)
         |       // max(tok_start + n_tokens) AS BIGINT) AS overhead_q
         |FROM c GROUP BY 1""".stripMargin,
    "doc_sample" ->
      """SELECT doc_id, lang,
        |  CAST(CAST('0x' || substring(md5(text), 17, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
        |FROM documents
        |WHERE CAST('0x' || substring(md5(text), 17, 4) AS INTEGER) % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 50 END""".stripMargin,
    "text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |                 '[0-9]{3,}', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3,}')) AS BIGINT) AS n_longnums
        |FROM documents""".stripMargin)
}
