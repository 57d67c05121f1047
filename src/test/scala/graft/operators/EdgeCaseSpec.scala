package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Edge-case behavior of the tokenizing operators on inputs the
  * fixture corpus never produces: empty text, docs shorter than the
  * shingle/span width, and non-ASCII content. These pin the LIBRARY
  * contract — ASCII-alphanumeric tokenization, identical to the
  * oracle regex `[^a-z0-9]+` — so a future "fix" that silently
  * changes tokenization on unicode fails here instead of surfacing as
  * an oracle mismatch at a new fixture.
  */
class EdgeCaseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("shingling drops empty and below-width docs instead of emitting partial rows") {
    val sh = Dedup.docShinglesOf(docs(
      1L -> "",
      2L -> "   \t  ",
      3L -> "one two",            // 2 tokens < k=3
      4L -> "one two three")).collect()
    assert(sh.map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set(4L -> "one two three"))
  }

  test("tokenization is ASCII-alphanumeric: non-ASCII letters are separators") {
    // 'é'/'ö' are NOT in [a-z0-9], so accented words split — the
    // documented contract (matches the DuckDB oracle regex), not a bug
    val sh = Dedup.docShinglesOf(docs(1L -> "héllo wörld naïve café x"))
      .collect().map(_.getString(1))
    val toks = "héllo wörld naïve café x".toLowerCase
      .split("[^a-z0-9]+").filter(_.nonEmpty)
    assert(toks === Array("h", "llo", "w", "rld", "na", "ve", "caf", "x"))
    assert(sh.contains("h llo w"))
    assert(sh.forall(s => s.matches("[a-z0-9]+( [a-z0-9]+){2}")))
  }

  test("punctuation-only and numeric docs tokenize to the expected stream") {
    val sh = Dedup.docShinglesOf(docs(
      1L -> "!!! ??? ...",        // no tokens at all
      2L -> "42 7 foo42bar 0")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(!sh.exists(_._1 == 1L))
    assert(sh.collect { case (2L, s) => s }.toSet ===
      Set("42 7 foo42bar", "7 foo42bar 0"))
  }

  test("dedupSubstring span counts match a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(11)
    // small vocabulary forces genuine cross-doc span collisions
    val corpus = (0L until 60L).map { id =>
      id -> Seq.fill(8 + rnd.nextInt(30))(s"w${rnd.nextInt(6)}").mkString(" ")
    }
    def spansOf(text: String): Set[String] = {
      val toks = text.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.length < 5) Set.empty
      else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    val all = corpus.map { case (id, t) => id -> spansOf(t) }.toMap
    val expected = all.map { case (id, spans) =>
      val dup = spans.count(s => all.exists { case (o, os) => o != id && os(s) })
      (id, spans.size.toLong, dup.toLong)
    }.toSet
    // library op over the same corpus, registered-query code path
    import org.apache.spark.sql.functions.{col, xxhash64, count, lit, coalesce, sum, when}
    val docs = corpus.toDF("doc_id", "text")
    val sp = Dedup.docSpansOf(docs, 5)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val shared = sp.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val totals = sp.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val dups = sp.join(shared, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    val got = totals.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"), coalesce(col("n_dup"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected.filter(_._2 > 0))
    assert(expected.exists(_._3 > 0), "corpus should contain cross-doc spans")
  }

  test("propagateMinLabels handles a single edge and self-loops") {
    val (single, r1) = Dedup.propagateMinLabels(Seq((7L, 3L)).toDF("doc_a", "doc_b"))
    assert(single.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(7L -> 3L, 3L -> 3L))
    assert(r1 <= 2)
    // a self-loop must not wedge the loop or split a component
    val (looped, _) = Dedup.propagateMinLabels(
      Seq((5L, 5L), (5L, 9L)).toDF("doc_a", "doc_b"))
    assert(looped.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(5L -> 5L, 9L -> 5L))
  }

  test("BPE tokenizer: full merges, byte fallback, and count bounds") {
    // words the merge table fully collapses — each one exercises a
    // chain where earlier merges enable later ones
    Seq("the", "data", "scan", "join", "key", "hash", "big", "dup",
      "fast", "row").foreach { w =>
      assert(TextAnalysis.bpeTokens(w) === 1, s"'$w' should fully merge")
    }
    // byte fallback: any string tokenizes, unseen material stays
    // character-level
    assert(TextAnalysis.bpeTokens("zzz") === 3)
    assert(TextAnalysis.bpeTokens("") === 0)
    // bounds hold for arbitrary input: 1..len for nonempty words
    val rng = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val w = (1 to (1 + rng.nextInt(12)))
        .map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      val n = TextAnalysis.bpeTokens(w)
      assert(n >= 1 && n <= w.length, s"'$w' -> $n out of bounds")
    }
  }

  test("pagerank: hub outranks leaves on a planted star-plus-chain graph") {
    // star center 1 with leaves 2..6; a detached 2-chain (10, 11).
    // The center receives 5 full contributions per round, leaves get
    // 1/5 of the center's — the center must outrank every leaf, and
    // symmetric positions must tie exactly (integer lattice).
    val edges = (2L to 6L).flatMap(l => Seq((1L, l), (l, 1L))) ++
      Seq((10L, 11L), (11L, 10L))
    val ranks = Graph.rankEdges(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.size === 8)
    val center = ranks(1L)
    (2L to 6L).foreach(l => assert(ranks(l) < center, s"leaf $l outranks center"))
    assert((2L to 6L).map(ranks).toSet.size === 1, "symmetric leaves must tie exactly")
    assert(ranks(10L) === ranks(11L), "2-chain endpoints must tie exactly")
  }

  test("fuzzy pigeonhole filter is lossless on randomized mutated corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic LCG → reproducible corpus; small alphabet forces
    // segment collisions (the regime where a buggy filter would
    // over-prune); 1–5 edits straddle the K=3 threshold both ways
    var state = 0x9E3779B97F4A7C15L
    def next(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((((state >>> 33) % bound) + bound) % bound).toInt
    }
    val alpha = "abcdef 0"
    def randStr(len: Int): String = (1 to len).map(_ => alpha(next(alpha.length))).mkString
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    (1 to 40).foreach { _ =>
      val base = randStr(20 + next(20))
      docs += ((id, base)); id += 1
      var m = base
      (1 to (1 + next(5))).foreach { _ =>
        val pos = if (m.isEmpty) 0 else next(m.length)
        next(3) match {
          case 0 => m = m.updated(pos, alpha(next(alpha.length)))
          case 1 => m = m.substring(0, pos) + alpha(next(alpha.length)) + m.substring(pos)
          case _ => if (m.length > 1) m = m.substring(0, pos) + m.substring(pos + 1)
        }
      }
      docs += ((id, m)); id += 1
    }
    val df = docs.toSeq.toDF("doc_id", "text")
    val keyed = df.select(col("doc_id"), Dedup.fuzzyKey(col("text")).as("t"))
    val naive = keyed.as("a")
      .join(keyed.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.t"), col("b.t")).cast("long"))
      .filter(col("dist") <= Dedup.FuzzyK)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    val fuzzy = Dedup.dedupFuzzyOn(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(naive.nonEmpty, "mutated corpus must contain within-threshold pairs")
    assert(fuzzy === naive,
      s"pigeonhole filter lost ${(naive -- fuzzy).size} / invented ${(fuzzy -- naive).size} pairs")
  }

  test("graph_bfs: seeds at zero, bipartite parity, bounded wavefront") {
    val rows = Graph.graphBfs(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, d) => d >= 0L && d <= Graph.BfsRounds })
    val seeds = rows.filter(_._2 == 0L).map(_._1)
    assert(seeds.nonEmpty)
    assert(seeds.forall(id =>
      id >= Graph.SuppOffset && id <= Graph.SuppOffset + Graph.BfsMaxSeedSupp))
    // the purchase graph is bipartite (customers ↔ suppliers) and the
    // seeds are suppliers, so suppliers sit on even hops, customers
    // on odd — any violation means an edge inside one side leaked in
    rows.foreach { case (id, d) =>
      if (id >= Graph.SuppOffset) assert(d % 2 == 0, s"supplier $id at odd hop $d")
      else assert(d % 2 == 1, s"customer $id at even hop $d")
    }
    graft.CacheScope.release(blocking = true)
  }

  test("resample emits one grid row for single-hour spans and fills interior gaps") {
    val df = Seq(
      ("solo", java.sql.Timestamp.valueOf("2024-01-01 05:30:00"), 1.0),
      ("gap", java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), 2.0),
      ("gap", java.sql.Timestamp.valueOf("2024-01-01 03:40:00"), 3.0))
      .toDF("event_type", "ts", "value")
    val rows = Relational.resampleOf(df).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
    assert(rows == Set(
      ("solo", "2024-01-01 05:00:00.0", 1L),
      ("gap", "2024-01-01 01:00:00.0", 1L),
      ("gap", "2024-01-01 02:00:00.0", 0L), // the filled gap
      ("gap", "2024-01-01 03:00:00.0", 1L)), rows.mkString(","))
  }

  test("histogram pins constant-valued groups to bucket 0 instead of NaN buckets") {
    val df = Seq(("flat", 5.0), ("flat", 5.0), ("flat", 5.0),
      ("vary", 0.0), ("vary", 10.0)).toDF("event_type", "value")
    val rows = Relational.histogramOf(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.contains(("flat", 0L, 3L)), s"constant group must pin to bucket 0: ${rows.mkString(",")}")
    assert(rows.contains(("vary", 0L, 1L)) && rows.contains(("vary", 19L, 1L)))
  }

  test("applyCdc equals a reference merge on randomized base/changes pairs") {
    val rng = new scala.util.Random(7L)
    for (_ <- 1 to 3) {
      val baseRows = (1L to 60L).map(k => (k, s"v$k", rng.nextInt(1000).toDouble))
      val ops = baseRows.map(_._1).filter(_ => rng.nextBoolean()).map { k =>
        if (rng.nextBoolean()) (k, s"u$k", rng.nextInt(1000).toDouble, "U")
        else (k, null.asInstanceOf[String], 0.0, "D")
      }
      val inserts = (1001L to 1000L + rng.nextInt(10)).map(k =>
        (k, s"i$k", rng.nextInt(1000).toDouble, "I"))
      val changes = ops ++ inserts
      // reference: plain map semantics
      val byKey = changes.map(c => c._1 -> c).toMap
      val want = (baseRows.flatMap { case (k, v, p) =>
        byKey.get(k) match {
          case Some((_, _, _, "D"))  => None
          case Some((_, nv, np, _))  => Some((k, nv, np))
          case None                  => Some((k, v, p))
        }
      } ++ inserts.map(c => (c._1, c._2, c._3))).toSet
      val got = Relational.applyCdc(
        baseRows.toDF("o_orderkey", "v", "p"),
        changes.toDF("o_orderkey", "v", "p", "op"),
        "o_orderkey")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got === want)
    }
  }

  test("applyCdc merge semantics on a planted base/changes pair") {
    // base keys 1..4; delete 2, update 3, insert 9; key 1 and 4 pass
    // through untouched — including 4, which shares no change row
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("o_orderkey", "v", "p")
    val changes = Seq(
      (2L, null.asInstanceOf[String], 0.0, "D"),
      (3L, "c2", 33.0, "U"),
      (9L, "i", 90.0, "I"))
      .toDF("o_orderkey", "v", "p", "op")
    val out = Relational.applyCdc(base, changes, "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out === Set(
      (1L, "a", 10.0), (3L, "c2", 33.0), (4L, "d", 40.0), (9L, "i", 90.0)))
  }

  test("profile_approx KMV estimates land within the k=64 error envelope") {
    val dir = "/root/testdata/sf0.01"
    val exact = Relational.profileTable(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = Relational.profileTableApprox(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (cname, est) =>
      val truth = exact(cname).toDouble
      // KMV with k=64: rsd ≈ 1/√(k−2) ≈ 12.7%; 3σ ≈ 38%. Sub-k
      // cardinalities are exact by construction.
      val tol = if (truth < 64) 0.0 else 0.38 * truth
      assert(math.abs(est - truth) <= tol,
        s"$cname: est $est vs exact $truth (tol $tol)")
    }
  }

  test("multiset set ops preserve bag identities on planted multiplicities") {
    val a = Seq(1L, 1L, 1L, 2L, 2L, 3L, 7L).toDF("k")
    val b = Seq(1L, 2L, 2L, 2L, 4L).toDF("k")
    val diff = a.exceptAll(b).collect().map(_.getLong(0)).sorted
    val inter = a.intersectAll(b).collect().map(_.getLong(0)).sorted
    assert(diff.toSeq === Seq(1L, 1L, 3L, 7L), "1×2 surplus + unmatched keys")
    assert(inter.toSeq === Seq(1L, 2L, 2L), "min multiplicity per key")
    // |A ∩ B|all + |A \ B|all == |A|
    assert(inter.length + diff.length === 7)
  }

  test("argmax composite key resolves planted price ties deterministically") {
    import org.apache.spark.sql.functions.{col, max_by, min_by, struct}
    // three rows tie on the price 10.0 — the struct's (orderkey,
    // linenumber) tail must decide both extremes, regardless of
    // partitioning (bare max_by(key=price) would be free to return
    // any of the tied orderkeys)
    val rows = Seq(
      ("A", 7L, 1, 10.0), ("A", 3L, 2, 10.0), ("A", 3L, 1, 10.0),
      ("A", 5L, 1, 4.0)).toDF("g", "ok", "ln", "price")
    Seq(1, 7).foreach { parts =>
      val r = rows.repartition(parts)
        .groupBy("g")
        .agg(
          max_by(col("ok"), struct(col("price"), col("ok"), col("ln"))).as("argmax"),
          min_by(col("ok"), struct(col("price"), col("ok"), col("ln"))).as("argmin"))
        .collect()(0)
      // max: price 10.0 tie → highest ok (7); min: price 4.0 unique
      assert(r.getLong(1) === 7L, s"argmax tie-break broken at $parts partitions")
      assert(r.getLong(2) === 5L, s"argmin wrong at $parts partitions")
    }
    // all-tied group: the id tail alone decides (max ok=3,ln=2 → 3)
    val tied = Seq(("B", 2L, 1, 1.0), ("B", 9L, 1, 1.0), ("B", 4L, 2, 1.0))
      .toDF("g", "ok", "ln", "price")
      .groupBy("g")
      .agg(max_by(col("ok"), struct(col("price"), col("ok"), col("ln"))).as("argmax"),
        min_by(col("ok"), struct(col("price"), col("ok"), col("ln"))).as("argmin"))
      .collect()(0)
    assert(tied.getLong(1) === 9L && tied.getLong(2) === 2L)
  }

  test("interval merge handles a long interval swallowing later short ones") {
    // the naive lag(end_us) formulation cuts an island at C because C
    // doesn't overlap its immediate PREDECESSOR B ([10,20)) — but A's
    // [0,100) still covers it; the running-max form keeps A,B,C merged
    val e = Seq(
      (1L, 1L, 0L, 100L),    // A: long
      (1L, 2L, 10L, 20L),    // B: short, inside A
      (1L, 3L, 50L, 60L),    // C: short, inside A, past B's end
      (1L, 4L, 500L, 510L)   // D: disjoint
    ).toDF("user_id", "event_id", "start_us", "end_us")
    val out = Relational.intervalMergeOf(e)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(out.toSeq === Seq((0L, 100L, 3L), (500L, 510L, 1L)))
  }

  test("interval merge equals a brute-force sweep on random variable-length corpora") {
    val rnd = new scala.util.Random(23)
    val rows = for (u <- 1L to 8L; i <- 1L to 40L) yield {
      val s = rnd.nextInt(2000).toLong
      (u, u * 100 + i, s, s + 1 + rnd.nextInt(120))
    }
    val got = Relational.intervalMergeOf(
      rows.toDF("user_id", "event_id", "start_us", "end_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = rows.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.map(r => (r._3, r._4)).sortBy(identity)
      val islands = sorted.tail.foldLeft(
        List((sorted.head._1, sorted.head._2, 1L))) {
        case ((s, e, n) :: rest, (st, en)) =>
          if (st > e) (st, en, 1L) :: (s, e, n) :: rest
          else (s, math.max(e, en), n + 1) :: rest
        case (Nil, _) => Nil
      }
      islands.map { case (s, e, n) => (u, s, e, n) }
    }.toSet
    assert(got === want)
  }

  test("skyline equals the quadratic dominance reference on random point sets") {
    val rnd = new scala.util.Random(31)
    val pts = for (t <- Seq("a", "b", "c"); k <- 1L to 60L)
      yield (t, k, (rnd.nextInt(50) * 25).toDouble / 100, rnd.nextInt(30))
    // coarse price grid forces equal-price and equal-(price,size) ties
    val got = Relational.skylineOf(
      pts.toDF("p_type", "p_partkey", "p_retailprice", "p_size"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = pts.filter { case (t, _, pr, sz) =>
      !pts.exists { case (t2, _, pr2, sz2) =>
        t2 == t && pr2 <= pr && sz2 >= sz && (pr2 < pr || sz2 > sz) }
    }.map(p => (p._1, p._2)).toSet
    assert(got === want)
  }

  test("nearest-neighbor resize at identical dimensions is the identity") {
    val seed = Array.tabulate(16)(i => (i * 41 + 5).toByte)
    val png = Multimodal.encodePng(seed)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val same = Multimodal.resizeRaster(img, img.getWidth, img.getHeight)
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      assert(same.getRGB(x, y) === img.getRGB(x, y), s"pixel ($x,$y)")
    // and the 4×4 thumbnail samples exactly the lattice-mapped pixels
    val t = Multimodal.resizeRaster(img, 4, 4)
    for (y <- 0 until 4; x <- 0 until 4)
      assert(t.getRGB(x, y) ===
        img.getRGB(x * img.getWidth / 4, y * img.getHeight / 4), s"thumb ($x,$y)")
  }

  test("ngram containment flags the quote direction only, at exactly the 3/5 boundary") {
    import org.apache.spark.sql.functions.xxhash64
    val words = (1 to 30).map(i => s"w$i")
    val long = words.mkString(" ")                // 28 trigrams
    val quote = words.slice(5, 15).mkString(" ")  // 8 trigrams, all inside long
    val sh = Dedup.docShinglesOf(docs(1L -> long, 2L -> quote))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        xxhash64(org.apache.spark.sql.functions.col("shingle")).as("sh"))
    val out = Dedup.ngramContainmentOf(sh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // quote→long contains fully; long→quote is 8/28 < 0.6 and must NOT appear
    assert(out === Set((2L, 1L, 1.0)))
    // exact boundary on constructed shingle sets (the operator takes
    // any (doc_id, sh) frame): doc 10 = {1..20}, doc 11 shares 3 of
    // its 5 → exactly 3/5, must be KEPT (integral threshold — an IEEE
    // 0.6×5 comparison drops it); doc 12 shares 2 of 5 → dropped
    val shExact = (
      (1L to 20L).map(s => (10L, s)) ++
        Seq((11L, 1L), (11L, 2L), (11L, 3L), (11L, 101L), (11L, 102L)) ++
        Seq((12L, 1L), (12L, 2L), (12L, 201L), (12L, 202L), (12L, 203L))
      ).toDF("doc_id", "sh")
    val bOut = Dedup.ngramContainmentOf(shExact).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bOut === Set((11L, 10L, 0.6)))
  }

  test("dataset_split is a pure per-doc function: stable under corpus filtering") {
    val dir = "/root/testdata/sf0.001"
    val full = Corpus.datasetSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // proportions near 80/10/10 (hash uniformity on 500 ids)
    val n = full.size.toDouble
    val frac = full.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.08, s"train frac ${frac("train")}")
    assert(math.abs(frac.getOrElse("val", 0.0) - 0.1) < 0.06)
    assert(math.abs(frac.getOrElse("test", 0.0) - 0.1) < 0.06)
    // stability: the same doc gets the same split in ANY subset — the
    // property a random()/rand(seed)-based split lacks (row order and
    // partitioning change assignments there)
    val subset = Corpus.datasetSplit(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    subset.foreach { case (id, s) => assert(full(id) === s, s"doc $id split drifted") }
  }

  test("dataset_split hash never overflows int64 at web-scale doc ids") {
    // the bare doc_id * K form wraps past doc_id ~ 3.5e9 in Spark
    // while DuckDB promotes to HUGEINT — the mod-2^31 fold must make
    // the engine result equal exact BigInt arithmetic at any id
    val ids = Seq(100000000000L, 3500000000L, Long.MaxValue - 1, 2147483648L, 42L)
    val got = ids.toDF("doc_id")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        Corpus.splitOf(org.apache.spark.sql.functions.col("doc_id")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ids.foreach { id =>
      val h = (BigInt(id) % BigInt(2147483648L)) * BigInt(2654435761L) % BigInt(4294967296L)
      val want = if (h < BigInt(3435973836L)) "train"
                 else if (h < BigInt(3865470566L)) "val" else "test"
      assert(got(id) === want, s"doc_id $id: engine ${got(id)} vs exact $want")
    }
  }

  test("trigram_lm scores planted commonness exactly; below-width docs are dropped") {
    // model counts over the planted corpus: aaa×3 (two from doc 1,
    // one from doc 2), aab×1, xyz×1 — scores are pure BIGINT lattice
    val out = TextAnalysis.trigramLmOf(docs(
      1L -> "aaaa",  // trigrams: aaa, aaa
      2L -> "aaab",  // trigrams: aaa, aab
      3L -> "xyz",   // trigram : xyz (globally unique)
      4L -> "ab"))   // < 3 chars: no row
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out === Set(
      (1L, 2L, 3L, 3L),   // sum 6 div 2 = 3, min 3
      (2L, 2L, 2L, 1L),   // sum 4 div 2 = 2, min 1 (aab unique)
      (3L, 1L, 1L, 1L)))  // the gibberish signature: min_cnt = 1
  }

  test("dedup_semantic marks higher-id cluster-mates only — cross-cluster dups are unseen by contract") {
    val tagged = Seq(
      (1L, 0, Array(1.0f, 0.0f)),    // cell 0 representative
      (2L, 0, Array(1.0f, 0.01f)),   // cos≈1 with v1, same cell  → dup
      (3L, 0, Array(0.0f, 1.0f)),    // orthogonal                → kept
      (4L, 1, Array(1.0f, 0.001f))   // near-identical to v1 but in ANOTHER cell → kept
    ).toDF("vec_id", "cell", "embedding")
    val out = Dedup.dedupSemanticOf(tagged).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 0L))
  }

  test("bpe_train learns the hand-traced merge sequence, ties broken (cnt desc, lhs, rhs)") {
    // vocab: low×2, lower×1, lowest×1. Round 1 ties (l,o) and (o,w)
    // at 4 → lhs asc picks (l,o); round 4 ties three pairs at 1 →
    // (lowe,r) wins on lhs then rhs; merges compose across rounds
    val out = TextAnalysis.bpeTrainOf(spark,
        docs(1L -> "low lower", 2L -> "lowest low"), rounds = 6)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (1L, "l", "o", "lo", 4L),
      (2L, "lo", "w", "low", 4L),
      (3L, "low", "e", "lowe", 2L),
      (4L, "lowe", "r", "lower", 1L),
      (5L, "lowe", "s", "lowes", 1L),
      (6L, "lowes", "t", "lowest", 1L)))
  }

  test("bpe_train equals an in-memory reference trainer on randomized corpora") {
    // reference implements the SAME contract (pair counts weighted by
    // word freq, (cnt desc, lhs, rhs) argmax, one-pass boundary
    // replace — Java String.replace is single-pass left-to-right like
    // both engines') so any divergence is a distributed-plumbing bug
    def refBpe(words: Seq[(String, Long)], rounds: Int): Seq[(Long, String, String, Long)] = {
      var spelled = words.map { case (w, f) => (" " + w.toCharArray.mkString(" ") + " ", f) }
      val out = Seq.newBuilder[(Long, String, String, Long)]
      for (rk <- 1 to rounds) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((s, f) <- spelled) {
          val sy = s.trim.split(" ")
          for (i <- 0 until sy.length - 1)
            counts((sy(i), sy(i + 1))) = counts.getOrElse((sy(i), sy(i + 1)), 0L) + f
        }
        val ((l, r), cnt) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((rk.toLong, l, r, cnt))
        spelled = spelled.map { case (s, f) => (s.replace(s" $l $r ", s" $l$r "), f) }
      }
      out.result()
    }
    var lcg = 0x2545F4914F6CDD1DL
    def next(n: Int): Int = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; (((lcg >>> 33) % n) + n).toInt % n }
    for (trial <- 1 to 4) {
      val vocabWords = (1 to 25).map { _ =>
        (1 to (2 + next(5))).map(_ => ('a' + next(3)).toChar).mkString
      }
      val corpus = (1 to 40).map(_ => vocabWords(next(vocabWords.length)))
      val wordFreq = corpus.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val want = refBpe(wordFreq, 4)
      val got = TextAnalysis.bpeTrainOf(spark,
          docs(corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }: _*), rounds = 4)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
      assert(got === want, s"trial $trial: engine $got vs reference $want")
    }
  }

  test("bpe_train run contract: one replace pass per round — ' a a a ' merges once") {
    // the documented divergence from canonical greedy BPE: the pass
    // consumes the shared boundary space, so a 3-run yields (aa, a)
    // and the NEXT round merges (aa, a) — identical in both engines
    val out = TextAnalysis.bpeTrainOf(spark, docs(1L -> "aaa"), rounds = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(out.toSeq === Seq((1L, "a", "a", 2L), (2L, "aa", "a", 1L)))
  }

  test("sample_balanced keeps the smallest language whole and levels the rest") {
    val dir = "/root/testdata/sf0.001"
    val kept = Corpus.sampleBalanced(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perLang = kept.groupBy(_._2).view.mapValues(_.size).toMap
    val counts = graft.sources.Tables.documents(spark, dir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    // the min language's threshold is exactly 2^20 → every row kept
    val minLang = counts.minBy(_._2)._1
    assert(perLang(minLang).toLong === nMin)
    assert(kept.filter(_._2 == minLang).forall(_._3 == 1048576L))
    // every other language downsamples to ~n_min (md5 uniformity;
    // generous envelope — the contract is the threshold arithmetic,
    // asserted exactly by the DuckDB oracle, not the sampling noise)
    counts.keys.foreach { lang =>
      val k = perLang.getOrElse(lang, 0).toDouble
      assert(math.abs(k - nMin) / nMin < 0.5,
        s"$lang kept $k vs target $nMin")
    }
  }

  test("window_ewma equals the BigInt reference, negatives and fractions included") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val vals = Seq(1.5, -2.25, 3.000001, -0.1, 7.0, 100.999999, -55.5, 0.0, 2.5, -1.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (1L, i.toLong, f"2024-01-01 00:00:${i}%02d", v)
    }
    val ev = rows.toDF("user_id", "event_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val got = Relational.windowEwmaOf(ev).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    val coef = Seq(16384L, 12288L, 9216L, 6912L, 5184L, 3888L, 2916L, 2187L)
    val vq = vals.map(v => BigInt(math.floor(v * 1000000).toLong))
    val want = (7 until vals.length).map { i =>
      val s = coef.zipWithIndex.map { case (c, k) => vq(i - k) * c }.sum
      // trunc-toward-zero, matching Spark div / DuckDB //
      i.toLong -> (s / 65536).toLong
    }.toMap
    assert(got === want)
  }

  test("kcore: a pendant chain erodes one vertex per round; the triangle core is a fixed point") {
    import org.apache.spark.sql.functions.col
    // triangle {1,2,3} (each deg 2) + chain 3—4—5—6: with k=2 the
    // chain's free end peels one vertex per round (6, then 5, then
    // 4), and the triangle survives every round with deg 2 intact
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val r3 = Graph.kcoreOn(edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round fewer still holds vertex 4 (erosion is per-round)
    val r2 = Graph.kcoreOn(edges, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2.keySet === Set(1L, 2L, 3L, 4L) && r2(4L) === 1L)
    // fixed point: extra rounds change nothing once the core is pure
    val r5 = Graph.kcoreOn(edges, k = 2, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r5 === r3)
    graft.CacheScope.release()
  }

  /** Brute-force hamming self-join over a (doc_id, phash_lo,
    * phash_hi) frame: every pair within hamming `k`, no banding. */
  private def phashBrute(p: DataFrame, k: Int): Set[(Long, Long, Long)] = {
    import org.apache.spark.sql.functions.{col, bit_count}
    p.as("a").join(p.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("h",
        (bit_count(col("a.phash_lo").bitwiseXOR(col("b.phash_lo")))
          + bit_count(col("a.phash_hi").bitwiseXOR(col("b.phash_hi")))).cast("long"))
      .filter(col("h") <= k)
      .select(col("a.doc_id"), col("b.doc_id"), col("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def phashFixture(dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Multimodal.multimodalPhash(spark, dir)
      .select(col("doc_id"), col("phash_lo"), col("phash_hi"))
  }

  test("phash_dedup banding is lossless: banded pairs equal the brute-force hamming join") {
    val dir = "/root/testdata/sf0.001"
    val brute = phashBrute(phashFixture(dir), 6)
    val banded = Multimodal.phashDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded === brute, "pigeonhole banding must lose no qualifying pair")
    assert(banded.nonEmpty, "fixture should contain visual near-dups")
    graft.CacheScope.release()
  }

  test("phash grouped banding at the shipped PhashK/PhashBands equals the brute-force hamming join") {
    import org.apache.spark.sql.functions.col
    // the operating point is a pair of constants: every brute pair
    // within PhashK shares >= PhashBands - PhashK byte bands (the
    // pigeonhole), and the grouped join over a supplied hash frame
    // returns exactly the brute pair set
    val dir = "/root/testdata/sf0.001"
    val hashes = phashFixture(dir)
    val brute = phashBrute(hashes, Multimodal.PhashK)
    val grouped = Multimodal.phashDedupGrouped(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty && grouped === brute)
    val bands = Multimodal.phashBandsOf(hashes).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    assert(bands.values.forall(_.size == Multimodal.PhashBands))
    brute.foreach { case (a, b, _) =>
      assert((bands(a) intersect bands(b)).size >= Multimodal.PhashBands - Multimodal.PhashK,
        s"pair ($a, $b) shares too few bands")
    }
    graft.CacheScope.release()
  }

  test("phash exact-hash pre-grouping equals the brute hamming join on a duplicated corpus") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // the realistic re-encode-heavy corpus: 5 identical-hash copies
    // per doc (fresh ids) — grouped must equal the brute hamming
    // join while its banding self-join sees only DISTINCT hashes
    val base = phashFixture(dir).filter(col("doc_id") < 300)
    val dup = base.withColumn("c", explode(expr("sequence(0, 4)")))
      .select((col("doc_id") * 8 + col("c")).as("doc_id"),
        col("phash_lo"), col("phash_hi"))
    val brute = phashBrute(dup, Multimodal.PhashK)
    val g2 = Multimodal.phashDedupGrouped(dup)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(g2 === brute,
      "grouped phash dedup must equal brute hamming on the duplicated corpus")
    // and the candidate-generation side saw distinct hashes only:
    // duplication multiplied doc-side band mass ~25x, rep-side not at all
    val nDocs = dup.count()
    val nReps = dup.select(col("phash_lo"), col("phash_hi")).distinct().count()
    assert(nReps * 5 <= nDocs,
      s"planted corpus should be duplication-heavy ($nReps reps / $nDocs docs)")
    graft.CacheScope.release()
  }

  test("knn_join ring cap (registered r17): set-identical to the unbounded join, k-bound holds") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    // the REGISTERED op ships the ring cap (r17 flip); the unbounded
    // self-join is the reference. The r17 `knncap` sweep measured the
    // capped output set-EQUAL to the uncapped at every swept SF — pin
    // that license here so fixture drift that breaks it is loud
    val full = Similarity.knnJoinCapped(spark, dir, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val cappedDf = Similarity.knnJoin(spark, dir)
    val capped = cappedDf.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(capped === full,
      "ring-capped knn_join must stay set-identical to the unbounded join on the fixture")
    val maxPerQ = cappedDf.groupBy("qid").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxPerQ <= Similarity.KnnK.toLong)
    assert(full.nonEmpty)
    graft.CacheScope.release()
  }

  test("target_encode equals the BigInt LOO reference on every fixture order") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val rows = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val xq = rows.map { case (k, c, p) =>
      (k, c, BigInt(math.floor(p * 100 + 0.5).toLong))
    }
    val sums = xq.groupBy(_._2).view.mapValues(g => (g.map(_._3).sum, g.size)).toMap
    val want = xq.collect { case (k, c, x) if sums(c)._2 > 1 =>
      k -> ((sums(c)._1 - x) / (sums(c)._2 - 1)).toLong
    }.toMap
    val got = Relational.targetEncode(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === want)
    // the leakage property itself: no row's encoding depends on its
    // own target — encoding a class's max row must not exceed the
    // class mean computed WITHOUT it (strict when the max is unique)
    val byClass = xq.groupBy(_._2)
    byClass.foreach { case (c, g) if g.size > 1 =>
      val mx = g.maxBy(_._3)
      assert(got(mx._1) <= (sums(c)._1 / sums(c)._2).toLong,
        s"class $c: LOO of the max row must sit at or below the naive mean")
    case _ => ()
    }
  }

  test("count-min sketch: overestimate-only on random streams; estimates are partition-invariant") {
    import org.apache.spark.sql.functions.{col, element_at, least, lit, pmod}
    import graft.functions.VectorFunctions.xxhash64Seeded
    val (d, w) = (4, 8)
    var lcg = 0x6C078965L
    def next(n: Int): Int = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; (((lcg >>> 33) % n) + n).toInt % n }
    for (trial <- 1 to 3; parts <- Seq(1, 7)) {
      val stream = (1 to 300).map(_ => s"k${next(12)}")
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val df = spark.createDataset(stream)(org.apache.spark.sql.Encoders.STRING)
        .toDF("k").repartition(parts)
      val sk = df.agg(graft.functions.CountMinAgg.cms_sketch(col("k"), d, w).as("sk"))
      val est = (0 until d).map { i =>
        element_at(col("sk"),
          (lit(i * w) + pmod(xxhash64Seeded(i.toLong, col("k")), lit(w))).cast("int") + 1)
      }.reduce(least(_, _))
      val got = df.distinct().crossJoin(sk).withColumn("est", est)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      truth.foreach { case (k, t) =>
        assert(got(k) >= t, s"trial $trial parts $parts: CMS underestimated $k")
      }
      // merge-invariance: the 7-partition sketch must equal the same
      // data's 1-partition sketch — a CMS is a pure function of the
      // dataset, independent of the merge tree
      if (parts == 7) {
        val single = df.coalesce(1)
          .agg(graft.functions.CountMinAgg.cms_sketch(col("k"), d, w).as("sk"))
          .collect()(0).getSeq[Long](0)
        val multi = sk.collect()(0).getSeq[Long](0)
        assert(multi === single, s"trial $trial: sketch cells differ across merge trees")
      }
    }
  }

  test("poisson_bootstrap replicates land inside the Poisson(1) envelope") {
    val dir = "/root/testdata/sf0.001"
    val out = Relational.poissonBootstrap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 8)
    val n = graft.sources.Tables.orders(spark, dir).count()
    // each replicate's effective size is a sum of n iid Poisson(1)
    // draws: mean n, sd √n — a 5σ envelope is deterministic-safe on
    // the fixed md5 stream while still catching any weight-table bug
    out.foreach { case (b, nEff, sum) =>
      assert(math.abs(nEff - n) <= 5 * math.sqrt(n.toDouble),
        s"replicate $b: n_eff $nEff vs n $n")
      assert(sum > 0.0)
    }
    // replicates must actually differ (independent hash bits per b)
    assert(out.map(_._2).distinct.length > 1)
    graft.CacheScope.release()
  }

  test("label_prop: ties break to the smallest label, seeds clamp, rounds chain outward") {
    import org.apache.spark.sql.functions.col
    // 1(seed 7)—3—2(seed 5): vertex 3 ties 7 vs 5 → 5 wins.
    // 3—4: vertex 4 is only reachable through 3, so it needs BOTH
    // rounds (r1: 3 labels, r2: 4 inherits 3's r1 label).
    // Seed 1 must stay 7 even though its only neighbor says 5.
    // 9—10 is an unseeded component: absent from the output.
    val edges = Seq((1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L),
        (3L, 4L), (4L, 3L), (9L, 10L), (10L, 9L)).toDF("u", "v")
    val seeds = Seq((1L, 7L), (2L, 5L)).toDF("id", "lbl")
    val out = Graph.labelPropOn(edges, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 7L, 2L -> 5L, 3L -> 5L, 4L -> 5L))
    graft.CacheScope.release()
  }

  test("inverted_index: posting heads truncate at 10 lowest doc_ids; df/tf stay exact") {
    val d = (0L until 12L).map(i => (i, if (i == 3) "z z q" else "z")) ++ Seq((99L, "q"))
    val out = TextAnalysis.invertedIndexOf(docs(d: _*))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(out === Set(
      ("z", 12L, 13L, "0,1,2,3,4,5,6,7,8,9"), // 12 postings, head keeps 10
      ("q", 2L, 2L, "3,99")))
    graft.CacheScope.release()
  }

  test("bigram_pmi: lattice equals BigInt and the 2^40 cap engages at planted web scale") {
    // doc 2 contributes 1,099,999 bigrams, so N crosses 2^20 and the
    // unique (x,y) pair's raw lift 2^20·N exceeds the cap — the
    // pre-cap product also exceeds int64 without decimal widening
    val filler = ("a b " * 550000).trim
    val out = TextAnalysis.bigramPmiOf(docs(1L -> "x y", 2L -> filler))
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val n = BigInt(1099999 + 1)
    def lift(c12: Long, cl: Long, cr: Long): Long =
      ((BigInt(1048576) * n * c12) / (BigInt(cl) * cr)).min(BigInt(1099511627776L)).toLong
    assert(out(("x", "y")) === ((1L, 1099511627776L)), "unique pair must hit the cap")
    assert(out(("a", "b")) === ((550000L, lift(550000L, 550000L, 550000L))))
    assert(out(("b", "a")) === ((549999L, lift(549999L, 549999L, 549999L))))
    graft.CacheScope.release()
  }

  test("bpe_encode equals a reference train+encode replay on randomized corpora") {
    // the reference replays the SAME contract end-to-end in memory:
    // train via pair counts + (cnt desc, lhs, rhs) argmax + one-pass
    // boundary replace, then a word's subword count is its final
    // spelled form's symbol count
    def refEncode(words: Seq[(String, Long)], rounds: Int): Map[String, Long] = {
      var spelled = words.map { case (w, f) => (" " + w.toCharArray.mkString(" ") + " ", f) }
      for (_ <- 1 to rounds) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((s, f) <- spelled) {
          val sy = s.trim.split(" ")
          for (i <- 0 until sy.length - 1)
            counts((sy(i), sy(i + 1))) = counts.getOrElse((sy(i), sy(i + 1)), 0L) + f
        }
        val ((l, r), _) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        spelled = spelled.map { case (s, f) => (s.replace(s" $l $r ", s" $l$r "), f) }
      }
      spelled.map { case (s, _) =>
        s.trim.replace(" ", "") -> s.trim.split(" ").length.toLong
      }.toMap
    }
    var lcg = 0x9E3779B97F4A7C15L
    def next(n: Int): Int = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; (((lcg >>> 33) % n) + n).toInt % n }
    for (trial <- 1 to 3) {
      val vocabWords = (1 to 20).map { _ =>
        (1 to (2 + next(5))).map(_ => ('a' + next(3)).toChar).mkString
      }
      // multi-word docs so per-doc sums exercise the broadcast join
      val corpus = (0 until 15).map { i =>
        (i.toLong, (1 to (1 + next(4))).map(_ => vocabWords(next(vocabWords.length))).mkString(" "))
      }
      val wordFreq = corpus.flatMap(_._2.split(" ")).groupBy(identity)
        .view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val enc = refEncode(wordFreq, 4)
      val want = corpus.map { case (id, text) =>
        val ws = text.split(" ")
        (id, ws.length.toLong, ws.map(enc).sum)
      }.toSet
      val got = TextAnalysis.bpeEncodeOf(spark, docs(corpus: _*), rounds = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === want, s"trial $trial")
      graft.CacheScope.release()
    }
  }

  test("sssp minimizes COST not hops, and the 4-round horizon is the documented contract") {
    import org.apache.spark.sql.functions.col
    // 1→2 direct costs 100; the 2-hop detour 1→3→2 costs 2 → sssp
    // must take the detour (this is exactly where BFS and SSSP
    // disagree). The pendant chain 2→4→5→6→7 then pins the horizon:
    // 5 is 4 CHEAP hops out (d=4), 6 is reachable in 4 rounds only
    // through the expensive direct edge (100+3), and 7 needs ≥5
    // edges on ANY path — outside the relaxation horizon, absent.
    val edges = Seq(
      (1L, 2L, 100L), (1L, 3L, 1L), (3L, 2L, 1L),
      (2L, 4L, 1L), (4L, 5L, 1L), (5L, 6L, 1L), (6L, 7L, 1L))
      .toDF("u", "v", "w")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val got = Graph.ssspOn(edges, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 3L -> 1L, 2L -> 2L, 4L -> 3L, 5L -> 4L, 6L -> 103L))
    graft.CacheScope.release()
  }

  test("bfsDistances: each vertex settles once, within the round horizon") {
    // symmetric chain 1-2-3-4-5 plus an unreachable island {9, 10}.
    // Every hop rediscovers the vertex it came from (2 finds 1 again,
    // 3 finds 2 again), so the settled-set anti-join must drop those
    // re-discoveries or dist would carry duplicate ids with larger d.
    // Three rounds reach 4; 5 (hop 4) and the island stay absent.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val seeds = Seq((1L, 0L)).toDF("id", "d")
    val rows = Graph.bfsDistances(edges, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length === rows.map(_._1).distinct.length, "a vertex was settled twice")
    assert(rows.toMap === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    graft.CacheScope.release()
  }

  test("linreg_trend equals the BigInt OLS reference on every fixture user") {
    import org.apache.spark.sql.functions.{col, expr}
    val dir = "/root/testdata/sf0.001"
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts)"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1) / 1000000L,
        BigInt(math.floor(r.getDouble(2) * 1000000).toLong)))
    val want = rows.groupBy(_._1).flatMap { case (u, g) =>
      val x0 = g.map(_._2).min
      val xs = g.map(r => BigInt(r._2 - x0))
      val ys = g.map(_._3)
      val n = BigInt(g.length)
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.lazyZip(ys).map(_ * _).sum
      val sxx = xs.map(x => x * x).sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      // BigInt / truncates toward zero — the div/'//' rule both
      // engines implement; negative slopes exercise it
      if (den > 0) Some(u -> (num * 86400 / den).toLong) else None
    }
    val got = Relational.linregTrend(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === want)
    assert(got.values.exists(_ < 0L) || got.values.exists(_ > 0L),
      "fixture must exercise at least one nonzero slope")
  }

  test("hits: the hub-authority mutual reinforcement orders a planted star correctly") {
    import org.apache.spark.sql.functions.col
    // customers 1,2,3 all buy from supplier 100; customer 1 ALSO
    // buys from supplier 200. Invariants after any round count:
    // 100 is the unique max authority (2^20 after L-inf rescale),
    // 1 is the unique max hub (it holds the extra authoritative
    // link), 2 and 3 tie strictly below, and 200 < 100.
    val edges = Seq((1L, 100L), (2L, 100L), (3L, 100L), (1L, 200L)).toDF("c", "s")
    val got = Graph.hitsOn(edges).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val S = Graph.HitsScale
    assert(got((100L, "auth")) === S && got((200L, "auth")) < S)
    assert(got((1L, "hub")) === S)
    assert(got((2L, "hub")) === got((3L, "hub")) && got((2L, "hub")) < S)
    graft.CacheScope.release()
  }

  test("purchase_gaps: planted timelines — gaps, zero-gap same-day orders, single-order drop") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    // cust 1: days 1,3,10 → gaps 2,7; cust 2: one order → absent;
    // cust 3: a same-day double order → one 0-day gap
    val orders = Seq(
      (1L, 10L, "1970-01-02"), (1L, 11L, "1970-01-04"), (1L, 12L, "1970-01-11"),
      (2L, 20L, "1970-01-05"),
      (3L, 30L, "1970-01-06"), (3L, 31L, "1970-01-06"))
      .toDF("o_custkey", "o_orderkey", "d")
      .withColumn("o_orderdate", to_timestamp(col("d")))
    val got = Relational.purchaseGapsOf(orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === Map(
      1L -> ((2L, 2L, 7L, 9L, 450L)),
      3L -> ((1L, 0L, 0L, 0L, 0L))))
  }

  test("winsorized_mean: p5/p95 edges clamp exactly, and a planted 10^9 outlier cannot move it") {
    // values 1..100 in one group: rank-lattice edges are the 5th and
    // 95th elements (lo=5, hi=95); hand-traced clamped mean 50.45
    def ev(vals: Seq[Double]) = vals.zipWithIndex
      .map { case (v, i) => ("A", i.toLong, v) }.toDF("event_type", "event_id", "value")
    val base = Relational.winsorizedMeanOf(ev((1 to 100).map(_.toDouble))).collect()
    assert(base.length === 1)
    assert(base.head.getLong(2) === 5000000L && base.head.getLong(3) === 95000000L)
    assert(base.head.getLong(4) === 50450000L)
    // robustness: the max replaced by 1e9 clamps to the SAME p95
    // edge → wmean_q identical (this is the point of winsorizing)
    val polluted = Relational.winsorizedMeanOf(
      ev((1 to 99).map(_.toDouble) :+ 1e9)).collect()
    assert(polluted.head.getLong(4) === base.head.getLong(4))
    graft.CacheScope.release()
  }

  test("gini: planted distributions — perfect equality is 0, total concentration is (n-1)/n") {
    import org.apache.spark.sql.functions.col
    // 8 customers, equal spend → G = 0 exactly
    val eq = (1L to 8L).map(k => (k, 1000L)).toDF("key", "x")
    assert(Relational.giniOf(eq).collect().head.getLong(2) === 0L)
    // one customer holds everything → G = (n-1)/n = 7/8 on the lattice
    val conc = ((1L to 7L).map(k => (k, 0L)) :+ (8L, 8000L)).toDF("key", "x")
    val g = Relational.giniOf(conc).collect().head.getLong(2)
    assert(g === (7L * 1048576L) / 8L)
  }

  test("assoc_rules: a perfect implication scores conf = 2^20 and lift = N/n_b on the lattice") {
    import org.apache.spark.sql.functions.col
    // item 2 rides along in EVERY basket containing item 1 (3 of 6
    // baskets); the other 3 baskets are {3}-noise → conf(1→2) = 1.0
    // exactly, conf(2→1) = 1.0, lift = P(12)/(P(1)P(2)) = 2.0
    val items = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L),
      (13L, 3L), (14L, 3L), (15L, 3L)).toDF("ok", "pk")
    val r = Graph.assocRulesOf(items).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> ((x.getLong(5), x.getLong(6), x.getLong(7))))
      .toMap
    assert(r((1L, 2L)) === ((1048576L, 1048576L, 2097152L)))
    graft.CacheScope.release()
  }

  test("decile_lift: bands are even, exhaustive, and ordered by the encoder score on the fixture") {
    val out = Relational.decileLift(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.map(_._1) === (1L to 10L).toArray)
    assert(out.map(_._2).max - out.map(_._2).min <= 1,
      "exact deciles differ by at most one member")
    graft.CacheScope.release()
  }

  test("seasonal_profile: shares of each type sum to 2^20 minus at most 7 trunc crumbs") {
    val out = Relational.seasonalProfile(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.groupBy(_._1).foreach { case (t, rows) =>
      val s = rows.map(_._4).sum
      assert(s <= 1048576L && s >= 1048576L - 7L,
        s"type $t: truncated shares must sum to within 7 of 2^20, got $s")
      assert(rows.map(_._2).toSet.subsetOf((0L to 6L).toSet))
    }
  }

  test("benford: digit domain, trunc-crumb share sum, and the deviation identity hold") {
    val out = Relational.benfordDeviation(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.map(_._1).toSet.subsetOf((1L to 9L).toSet))
    val s = out.map(_._3).sum
    assert(s <= 1048576L && s >= 1048576L - 9L,
      s"truncated shares must sum to within 9 of 2^20, got $s")
    out.foreach { case (d, _, share, bq, dev) =>
      assert(dev === math.abs(share - bq), s"digit $d deviation identity")
    }
  }

  test("pareto_share: top band cumulates to exactly 2^20 and cum-share decreases with band") {
    val out = Relational.paretoShare(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(out.map(_._1) === (1L to 5L).toArray)
    // band 1's cumulative covers everything: (total·2^20) div total
    assert(out.head._4 === 1048576L)
    assert(out.map(_._4).sliding(2).forall(p => p(0) >= p(1)),
      "cumulative-from-top share must be non-increasing in band")
    assert(out.map(_._2).max - out.map(_._2).min <= 1, "exact quintiles")
    graft.CacheScope.release()
  }

  test("discount_elasticity equals the BigInt OLS reference on every fixture part type") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_discount"), col("l_quantity"))
      .collect().map(r => (r.getLong(0),
        BigInt(math.floor(r.getDouble(1) * 100 + 0.5).toLong),
        BigInt(math.round(r.getDouble(2)))))
    val types = graft.sources.Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_type"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = li.groupBy(r => types(r._1)).flatMap { case (t, g) =>
      val n = BigInt(g.length)
      val (sx, sy) = (g.map(_._2).sum, g.map(_._3).sum)
      val sxy = g.map(r => r._2 * r._3).sum
      val sxx = g.map(r => r._2 * r._2).sum
      val den = n * sxx - sx * sx
      if (den > 0) Some(t -> ((n * sxy - sx * sy) * 1048576 / den).toLong) else None
    }
    val got = Relational.discountElasticity(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got === want)
  }

  test("ship_latency: medians sit inside [min,max], counts cover every lineitem") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val out = Relational.shipLatency(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val total = graft.sources.Tables.lineitem(spark, dir).count()
    assert(out.map(_._2).sum === total, "every lineitem lands in exactly one month")
    out.foreach { case (om, n, mn, mx, mean100, p50) =>
      assert(mn <= p50 && p50 <= mx, s"month $om median outside [min,max]")
      assert(mn * 100 <= mean100 && mean100 <= mx * 100, s"month $om mean outside range")
    }
    graft.CacheScope.release()
  }

  test("shingle_novelty: first doc scores 2^20, an exact copy scores 0, fresh text scores full") {
    import org.apache.spark.sql.functions.{col, count, lit, min, sum, when}
    val d = Seq(
      1L -> "alpha beta gamma delta",     // all shingles first seen here
      2L -> "alpha beta gamma delta",     // exact copy → 0 novel
      3L -> "epsilon zeta eta theta")     // disjoint → full novelty
      .toDF("doc_id", "text")
    val sh = Dedup.docShinglesOf(d).repartition(col("shingle"))
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    // replicate the operator's fold over the planted corpus
    val got = sh.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((2L, 2L)), 2L -> ((2L, 0L)), 3L -> ((2L, 2L))))
  }

  test("vocab_growth: cum_types is non-decreasing and ends at the distinct token count") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val out = TextAnalysis.vocabGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(out.map(_._1) === (0L to 9L).toArray)
    assert(out.map(_._4).sliding(2).forall(p => p(0) <= p(1)), "cum must be monotone")
    assert(out.map(_._3).sum === out.last._4, "new types telescope into the final cum")
    val vocab = TextAnalysis.vocabTopk(spark, dir).count()
    assert(out.last._4 === vocab || vocab === 100L,
      "final cum equals the distinct vocabulary (vocabTopk truncates at 100)")
    graft.CacheScope.release()
  }

  test("spend_percentile: bottom is 0, top is exactly 2^20, and ranks are strictly ordered") {
    val out = Relational.spendPercentile(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sorted = out.sortBy(r => (r._2, r._1))
    assert(sorted.head._3 === 0L && sorted.last._3 === 1048576L)
    assert(sorted.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
      "pct must be monotone along the spend order")
  }

  test("quantile_table probes are ordered and each sits inside the type's value range") {
    import org.apache.spark.sql.functions.{col, expr}
    val dir = "/root/testdata/sf0.001"
    val rng = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("min(cast(floor(value * 1000000) as bigint))").as("mn"),
        expr("max(cast(floor(value * 1000000) as bigint))").as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    Relational.quantileTable(spark, dir).collect().foreach { r =>
      val (mn, mx) = rng(r.getString(0))
      val ps = (2 to 6).map(r.getLong)
      assert(ps === ps.sorted, s"${r.getString(0)}: probes must be non-decreasing")
      assert(ps.head >= mn && ps.last <= mx)
    }
    graft.CacheScope.release()
  }

  test("user_lifecycle: a planted timeline walks new → active → resurrected") {
    import org.apache.spark.sql.functions.{col, expr, to_timestamp}
    // user 1: weeks 0,1,3 → new, active, resurrected;
    // user 2: week 1 only → new; two events in one week dedup
    val ev = Seq(
      (1L, "1970-01-02"), (1L, "1970-01-03"),   // week 0 ×2 → one row
      (1L, "1970-01-09"),                        // week 1
      (1L, "1970-01-23"),                        // week 3 (gap)
      (2L, "1970-01-09"))
      .toDF("user_id", "d")
      .withColumn("ts", to_timestamp(col("d")))
    val got = Relational.userLifecycleOf(ev).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (0L, "new") -> 1L, (1L, "new") -> 1L, (1L, "active") -> 1L,
      (3L, "resurrected") -> 1L))
  }

  test("price_volume_mix: the bridge is exactly additive on every fixture brand") {
    val out = Relational.priceVolumeMix(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (r1, r2) = (r.getLong(2), r.getLong(4))
      val (vol, price, res) = (r.getLong(5), r.getLong(6), r.getLong(7))
      assert(vol + price + res === r2 - r1,
        s"brand ${r.getString(0)}: volume+price+residual must equal the revenue delta")
    }
  }

  test("supplier_hhi sits in (2^20/k, 2^20] and hits the uniform floor only at equal shares") {
    val out = Relational.supplierHhi(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (k, hhi) = (r.getLong(2), r.getLong(4))
      assert(hhi <= 1048576L, s"${r.getString(1)}: HHI cannot exceed monopoly")
      assert(hhi >= 1048576L / k - 1L,
        s"${r.getString(1)}: HHI is bounded below by the uniform mix 1/k")
    }
    graft.CacheScope.release()
  }

  test("category_drift: both periods' shares each sum to 2^20 minus trunc crumbs") {
    val out = Relational.categoryDrift(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    val k = out.length
    Seq(out.map(_._2).sum, out.map(_._3).sum).foreach { s =>
      assert(s <= 1048576L && s >= 1048576L - k,
        s"period shares must sum to within $k of 2^20, got $s")
    }
    out.foreach { case (c, s1, s2, d) =>
      assert(d === math.abs(s1 - s2), s"category $c drift identity")
    }
    graft.CacheScope.release()
  }

  test("trade_matrix: row shares sum to 2^20 per buyer nation; cells reconcile to total revenue") {
    import org.apache.spark.sql.functions.{col, expr}
    val dir = "/root/testdata/sf0.001"
    val out = Relational.tradeMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.groupBy(_._1).foreach { case (cn, rows) =>
      val s = rows.map(_._4).sum
      assert(s <= 1048576L && s >= 1048576L - rows.length,
        s"$cn: row shares must sum to within ${rows.length} of 2^20")
    }
    val total = graft.sources.Tables.lineitem(spark, dir)
      .agg(expr("sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint))"))
      .head().getLong(0)
    assert(out.map(_._3).sum === total,
      "matrix cells must reconcile exactly to corpus revenue")
  }

  test("churn_label: labels are monotone in recency and single-order customers carry the sentinel") {
    val out = Relational.churnLabel(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(out.exists(_._4 == 1L) && out.exists(_._4 == 0L),
      "the fixture must exercise both labels")
    val threshold = out.filter(_._4 == 0L).map(_._1).max
    assert(out.filter(_._4 == 1L).forall(_._1 > threshold),
      "every churned customer is MORE stale than every retained one")
    out.filter(_._2 == 1L).foreach { r =>
      assert(r._3 === -1L, "single-order customers carry the -1 cadence sentinel")
    }
    graft.CacheScope.release()
  }

  test("drawdown: peaks are the running max, zero at fresh peaks, in [0, 2^20)") {
    val out = Relational.drawdown(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    var peak = Long.MinValue
    out.foreach { case (wk, rev, p, dq) =>
      peak = math.max(peak, rev)
      assert(p === peak, s"week $wk: peak must be the running max")
      if (rev == peak) assert(dq === 0L, s"week $wk: fresh peak has zero drawdown")
      assert(dq >= 0L && dq < 1048576L)
    }
  }

  test("revenue_wow growth replays from consecutive revenue pairs, trunc rule included") {
    val out = Relational.revenueWow(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val dd = Relational.drawdown(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (wk, rev, bp) =>
      assert(dd(wk) === rev)
      // only check weeks whose CONSECUTIVE predecessor exists — lag
      // runs over the ordered week sequence, so a calendar gap makes
      // the lagged value a different (earlier) week
      dd.get(wk - 1).foreach { prev =>
        assert(bp === (BigInt(rev - prev) * 10000 / prev).toLong, s"week $wk growth")
      }
    }
    assert(out.exists(_._3 < 0) && out.exists(_._3 > 0),
      "fixture must exercise both growth signs")
    graft.CacheScope.release()
  }

  test("dup_charges: every flagged group really has >1 line and exact totals") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val raw = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        BigInt(math.floor(r.getDouble(2) * 100 + 0.5).toLong)))
    val want = raw.groupBy(_._1).filter(_._2.length > 1).map { case (k, g) =>
      k -> ((g.length.toLong, g.map(_._2).sum.toLong, (g.map(_._2).max - g.map(_._2).min).toLong))
    }
    val got = Relational.dupCharges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got === want)
  }

  test("pack_efficiency: fill and waste reconcile exactly against pack_sequences totals") {
    import org.apache.spark.sql.functions.{col, sum}
    val dir = "/root/testdata/sf0.001"
    val packed = Corpus.packSequences(spark, dir)
      .groupBy(col("shard")).agg(sum(col("n_bpe_tokens")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Corpus.packEfficiency(spark, dir).collect().foreach { r =>
      val (shard, total, nSeqs, fill, waste) =
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(total === packed(shard), s"shard $shard totals reconcile")
      assert(nSeqs === (total + 2047L) / 2048L)
      assert(waste === nSeqs * 2048L - total)
      assert(fill > 0L && fill <= 1048576L)
    }
    graft.CacheScope.release()
  }

  test("dedup_by_source: duplicate counts reconcile with dedup_exact's copy groups") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val extraCopies = Dedup.dedupExact(spark, dir).collect()
      .map(r => r.getLong(2) - 1L).sum
    val bySource = Dedup.dedupBySource(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(bySource.map(_._2).sum === extraCopies,
      "per-source duplicate counts must sum to the corpus-wide non-representative copies")
    graft.CacheScope.release()
  }

  test("source_lang_mix: each source's shares sum to 2^20 minus trunc crumbs") {
    val out = Corpus.sourceLangMix(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(3)))
    out.groupBy(_._1).foreach { case (s, rows) =>
      val t = rows.map(_._2).sum
      assert(t <= 1048576L && t >= 1048576L - rows.length, s"source $s crumb bound")
    }
  }

  test("type_jaccard: symmetric bounds hold — inter never exceeds either margin") {
    val out = Relational.typeJaccard(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    out.foreach { case (a, b, na, nb, i, jq) =>
      assert(a < b, "pairs must be canonically oriented")
      assert(i <= math.min(na, nb), s"($a,$b): intersection bounded by margins")
      assert(jq >= 0L && jq <= 1048576L)
      assert(jq === i * 1048576L / (na + nb - i), s"($a,$b): lattice identity")
    }
    graft.CacheScope.release()
  }

  test("embed_drift: identical pseudo-batches drift to exactly zero") {
    import org.apache.spark.sql.functions.col
    // Planted check through the fixture machinery is awkward (the op
    // reads the table directly), so pin the algebraic core instead:
    // the per-dimension lattice drift of a label whose two halves
    // have IDENTICAL centroids must be 0 — verified by replaying the
    // operator on the real fixture and asserting the exact BigInt
    // reference reproduces every drift_sq.
    val dir = "/root/testdata/sf0.001"
    val raw = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).toArray))
    val want = raw.groupBy(_._2).flatMap { case (lbl, g) =>
      val (h0, h1) = g.partition(_._1 % 2 == 0)
      if (h0.isEmpty || h1.isEmpty) None else {
        def cent(h: Array[(Long, Long, Array[Float])]): Array[Long] = {
          val dims = h.head._3.length
          (0 until dims).map { d =>
            val s = h.map(v => BigInt(math.floor(v._3(d).toDouble * 1048576).toLong)).sum
            (s / h.length).toLong
          }.toArray
        }
        val (ca, cb) = (cent(h0), cent(h1))
        Some(lbl -> ca.zip(cb).map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum.toLong)
      }
    }
    val got = Similarity.embedDrift(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got === want)
  }

  test("pagerank_weighted conserves lattice mass like pagerank, and the two rankings differ") {
    val dir = "/root/testdata/sf0.001"
    val weighted = Graph.pagerankWeighted(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = Graph.pagerank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted.keySet === plain.keySet, "same vertex set")
    assert(weighted.exists { case (k, v) => plain(k) != v },
      "cent weighting must actually change some rank (else the weights are dead)")
    // trunc-crumb-bounded mass conservation: each vertex emits its
    // rank minus at most (outdeg) division crumbs, then 17/20 + tele
    val (wSum, pSum) = (weighted.values.map(BigInt(_)).sum, plain.values.map(BigInt(_)).sum)
    assert((wSum - pSum).abs < BigInt(weighted.size) * 4096L,
      "weighted and plain lattice mass agree within per-vertex crumb bounds")
    graft.CacheScope.release()
  }

  test("degree_dist reconciles: vertex counts sum to |V|, degree mass to 2·|pairs|") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val dir = "/root/testdata/sf0.001"
    val out = Graph.degreeDist(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nVertices = Graph.pagerank(spark, dir).count()
    assert(out.map(_._2).sum === nVertices, "Σ n_vertices = |V|")
    val nPairs = graft.sources.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.sources.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().count()
    assert(out.map { case (d, n) => d * n }.sum === 2L * nPairs,
      "Σ deg·n = both directions of every distinct purchase pair")
    assert(out.forall(_._1 >= 1L), "symmetrized graph has no isolated vertices")
    graft.CacheScope.release()
  }

  test("lorenz_curve: convex, monotone, ends exactly at 2^20, and sits under the diagonal") {
    val out = Relational.lorenzCurve(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    assert(out.map(_._1) === (1L to 10L).toArray)
    assert(out.last._3 === 1048576L, "decile 10 cumulates to exactly 2^20")
    assert(out.map(_._3).sliding(2).forall(p => p(0) <= p(1)), "monotone")
    // ascending-spend deciles: cumulative share can never exceed the
    // population share (the Lorenz curve sits on/under the diagonal)
    out.foreach { case (d, _, cum) =>
      assert(cum <= d * 1048576L / 10L + 1L, s"decile $d above the diagonal")
    }
    graft.CacheScope.release()
  }

  test("nation_cr1 is bounded by the uniform floor and never exceeds the HHI's implied top share") {
    val cr1 = Relational.nationCr1(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(cr1.nonEmpty)
    cr1.foreach { case (nk, k, tot, top, q) =>
      assert(q >= 1048576L / k - 1L, s"nation $nk: CR1 at least the uniform share")
      assert(q <= 1048576L, s"nation $nk: CR1 at most everything")
      assert(top <= tot)
      assert(BigInt(q) === BigInt(top) * 1048576L / tot, s"nation $nk lattice identity")
    }
    graft.CacheScope.release()
  }

  test("priority_latency: five priorities, medians inside [min,max], counts cover lineitem") {
    val out = Relational.priorityLatency(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.length === 5)
    val total = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001").count()
    assert(out.map(_._2).sum === total)
    out.foreach { case (p, _, mn, mx, mean100, p50) =>
      assert(mn <= p50 && p50 <= mx, s"$p median bounds")
      assert(mn * 100 <= mean100 && mean100 <= mx * 100, s"$p mean bounds")
    }
    graft.CacheScope.release()
  }

  test("mktseg_mix: each nation's segment shares sum to 2^20 minus trunc crumbs") {
    val out = Relational.mktsegMix(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(3)))
    out.groupBy(_._1).foreach { case (nation, rows) =>
      val s = rows.map(_._2).sum
      assert(s <= 1048576L && s >= 1048576L - rows.length, s"$nation crumb bound")
    }
  }

  test("rfm_segment bands partition the customers evenly and the code composes the digits") {
    val out = Relational.rfmSegment(spark, "/root/testdata/sf0.001").collect()
    val n = out.length
    assert(n > 0)
    Seq(4, 5, 6).foreach { bandCol =>
      val sizes = out.groupBy(_.getLong(bandCol)).view.mapValues(_.length)
      assert(sizes.keySet === Set(1L, 2L, 3L, 4L, 5L),
        s"col $bandCol: every quintile band must be inhabited")
      // ((rank-1)*5) div n + 1 gives each band floor(n/5) or ceil(n/5)
      assert(sizes.values.max - sizes.values.min <= 1,
        s"col $bandCol: exact quintiles differ by at most one member")
    }
    out.foreach { r =>
      assert(r.getLong(7) ===
        r.getLong(4) * 100L + r.getLong(5) * 10L + r.getLong(6))
    }
    graft.CacheScope.release()
  }

  test("gopher_quality: keep replays from the emitted columns; bounds are internally consistent") {
    val out = TextAnalysis.gopherQuality(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, mean, mx, alpha, stops, keep) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(mean <= mx * 100L, "mean word length cannot exceed the max")
      assert(alpha <= n && stops <= 16L, "alpha words within count, stops within list size")
      val expect = (n >= 50L && n <= 100000L) && (mean >= 300L && mean <= 1000L) &&
        (alpha * 5L >= n * 4L) && stops >= 2L
      assert(keep === (if (expect) 1L else 0L), s"keep flag must replay: $r")
    }
  }

  test("mips_topk: ranks are 1..K per query with non-increasing dots") {
    val out = Similarity.mipsTopk(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    out.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq === (1L to byRank.length).toSeq, s"query $q ranks")
      assert(byRank.map(_._3).sliding(2).forall(p => p(0) >= p(1)),
        s"query $q dots must be non-increasing with rank")
    }
  }

  test("pq_distortion: all 8 subspaces cover every vector; mean never exceeds max") {
    val out = Similarity.pqDistortion(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).sorted.toSeq === (0L to 7L).toSeq)
    val nVecs = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    out.foreach { case (s, n, mean, mx) =>
      assert(n === nVecs, s"subspace $s must see every vector")
      assert(mean >= 0L && mean <= mx, s"subspace $s: 0 <= mean <= max")
    }
    graft.CacheScope.release()
  }

  test("autocorr_lag7: a correlation is a correlation") {
    val r = Relational.autocorrLag7(spark, "/root/testdata/sf0.001").collect().head
    assert(r.getLong(0) > 0L, "fixture has lag-7 day pairs")
    assert(math.abs(r.getDouble(1)) <= 1.0 + 1e-12, "corr in [-1, 1]")
    graft.CacheScope.release()
  }

  test("interval_overlap: peaks bounded by per-user event counts and time range") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, dir)
      .groupBy($"user_id").agg(
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.expr("min(unix_micros(ts))").as("lo"),
        org.apache.spark.sql.functions.expr("max(unix_micros(ts))").as("hi"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val out = Relational.intervalOverlap(spark, dir).collect()
    assert(out.length === ev.size, "one row per user")
    out.foreach { r =>
      val (u, mc, peak) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val (n, lo, hi) = ev(u)
      assert(mc >= 1L && mc <= n, s"user $u: 1 <= peak concurrency <= events")
      assert(peak >= lo && peak <= hi + 300000000L, s"user $u: peak time in range")
    }
  }

  test("modularity: totals reconcile and Q stays in its theoretical band") {
    val rows = Graph.modularity(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val dTotal = Graph.purchaseEdges(spark, "/root/testdata/sf0.001").count()
    val degSum = rows.map(_._2).sum
    val intraSum = rows.map(_._3).sum
    assert(degSum <= dTotal, "labeled-vertex degree mass within total")
    assert(intraSum <= dTotal, "intra edges within total")
    rows.foreach { case (nn, dc, a, qn) =>
      assert(a <= dc, "a community's intra edges cannot exceed its degree mass")
      assert(qn === dTotal * a - dc * dc, "q_num replays from the emitted columns")
    }
    // Q = sum(q_num)/D^2 is bounded by [-1/2, 1]
    val q = rows.map(_._4).sum.toDouble / (dTotal.toDouble * dTotal.toDouble)
    assert(q >= -0.5 && q <= 1.0, s"modularity $q out of band")
    graft.CacheScope.release()
  }

  test("jaccard_neighbors: exact bounds — shared within both margins, lattice jaccard replays") {
    val out = Graph.jaccardNeighbors(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, b, sh, na, nb, jq) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a < b, "pairs are canonical (a < b)")
      assert(sh >= 1L && sh <= math.min(na, nb), "shared within both part-set sizes")
      assert(jq === sh * 1048576L / (na + nb - sh), "lattice jaccard replays")
      assert(jq >= 1L && jq <= 1048576L, "jaccard in (0, 1] on the lattice")
    }
    graft.CacheScope.release()
  }

  test("skew_profile: lattice ratios replay; a uniform key family floors at 2^20") {
    val out = Relational.skewProfile(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getString(0)).sorted.toSeq ===
      Seq("l_partkey", "l_suppkey", "o_custkey"))
    out.foreach { r =>
      val (n, k, mx, sq) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mx >= (n + k - 1) / k, "max frequency at least the ceiling mean")
      assert(sq === mx * k * 1048576L / n, "skew_q replays")
      assert(sq >= 1048576L - k, "hot key at least ~mean (trunc crumbs aside)")
    }
  }

  test("sax_motifs: letters cover a-d only; week counts sum to the day-grid weeks") {
    val dirp = "/root/testdata/sf0.001"
    val out = Relational.saxMotifs(spark, dirp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (m, len, _) =>
      assert(m.matches("[abcd]+"), s"motif $m must be over the 4-letter alphabet")
      assert(len === m.length.toLong && len >= 1L && len <= 7L)
    }
    val nWeeks = graft.sources.Tables.orders(spark, dirp)
      .select(org.apache.spark.sql.functions.expr(
        "cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint) div 7").as("w"))
      .distinct().count()
    assert(out.map(_._3).sum === nWeeks, "every week contributes exactly one motif")
    graft.CacheScope.release()
  }

  test("graph_assortativity: the bipartite purchase graph is disassortative") {
    val r = Graph.graphAssortativity(spark, "/root/testdata/sf0.001").collect().head
    assert(r.getLong(0) > 0L)
    val a = r.getDouble(1)
    assert(a >= -1.0 - 1e-12 && a <= 1.0 + 1e-12, "a correlation")
    assert(a < 0.0, "hub-and-spoke bipartite graphs measure negative")
    graft.CacheScope.release()
  }

  test("blocklist_filter: shares replay and flagged docs really contain a listed token") {
    val dirp = "/root/testdata/sf0.001"
    val out = TextAnalysis.blocklistFilter(spark, dirp).collect()
    assert(out.nonEmpty)
    var anyFlag = 0L
    out.foreach { r =>
      val (n, f, q) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(f <= n && q === f * 1048576L / n)
      anyFlag += f
    }
    // recount directly from the corpus with the same tokenizer
    val direct = graft.sources.Tables.documents(spark, dirp)
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .count(r => TextAnalysis.tokenize(r.getString(0))
        .exists(TextAnalysis.Blocklist.contains))
    assert(anyFlag === direct.toLong, "flag total matches a direct recount")
  }

  test("knn_calibration: buckets partition the query set and accuracy replays") {
    val dirp = "/root/testdata/sf0.001"
    val out = Similarity.knnCalibration(spark, dirp).collect()
    assert(out.nonEmpty)
    val nq = Similarity.knnClassify(spark, dirp).count()
    assert(out.map(_.getLong(1)).sum === nq, "buckets cover every query")
    out.foreach { r =>
      val (v, n, c, a) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(v >= 1L && c <= n && a === c * 1048576L / n)
    }
    graft.CacheScope.release()
  }

  test("rank_fusion: a candidate on both lists outranks rank-parity singles; scores replay") {
    val rows = Similarity.rankFusion(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length).toSeq, s"query $q ranks")
    }
    rows.foreach { case (_, _, _, rrf, nl) =>
      assert(nl >= 1L && nl <= 2L)
      // each term is 2^20 div (60+rnk) with rnk in 1..5: bounds check
      assert(rrf >= 1048576L / 65L * nl && rrf <= (1048576L / 61L) * nl)
    }
  }

  test("order_backlog: flow conservation — backlog is the running open-minus-closed balance") {
    val rows = Relational.orderBacklog(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rows.nonEmpty)
    var bal = 0L
    rows.foreach { case (_, o, c, b) =>
      bal += o - c
      assert(b === bal, "running balance replays")
      assert(bal >= 0L, "an order cannot close before it opens")
    }
    assert(bal === 0L, "every order eventually closes")
    assert(rows.map(_._2).sum === rows.map(_._3).sum, "opened == closed in total")
    graft.CacheScope.release()
  }

  test("ann_recall: the shipped IVF operating point holds the >= 0.7 recall floor") {
    val out = Similarity.annRecall(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 10, "one row per query")
    out.foreach { case (q, k, h, rq) =>
      assert(h <= k && rq === h * 1048576L / k, s"query $q recall replays")
    }
    val macroRecall = out.map(_._3).sum.toDouble / out.map(_._2).sum
    assert(macroRecall >= 0.7, s"IVF recall floor: $macroRecall")
    graft.CacheScope.release()
  }

  test("corpus_card: figures reconcile with their per-op sources") {
    val dirp = "/root/testdata/sf0.001"
    val r = Corpus.corpusCard(spark, dirp).collect().head
    val nDocs = graft.sources.Tables.documents(spark, dirp).count()
    assert(r.getLong(0) === nDocs)
    assert(r.getLong(2) === 5L && r.getLong(3) === 20L, "fixture langs/sources")
    assert(r.getLong(5) === r.getLong(1) / r.getLong(0), "mean replays")
    assert(r.getLong(6) === r.getLong(4) * 1048576L / r.getLong(0), "dup share replays")
    assert(r.getLong(4) >= 0L && r.getLong(4) <= nDocs)
    graft.CacheScope.release()
  }

  test("gap_survival: monotone non-increasing in the horizon, bounded by 2^20") {
    val out = Relational.gapSurvival(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(7L, 14L, 30L, 60L, 90L))
    assert(out.map(_._2).distinct.length === 1, "every horizon sees every gap")
    out.foreach { case (_, n, e, s) =>
      assert(e <= n && s === e * 1048576L / n)
    }
    assert(out.map(_._4).sliding(2).forall(p => p(0) >= p(1)),
      "survival cannot increase with the horizon")
  }

  test("pagerank_personalized: mass proximity — seeds outrank the global-uniform floor") {
    val dirp = "/root/testdata/sf0.001"
    val pers = Graph.pagerankPersonalized(spark, dirp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pers.nonEmpty)
    val seeds = graft.sources.Tables.customer(spark, dirp)
      .filter($"c_custkey" % 10 === 0).select($"c_custkey").collect()
      .map(_.getLong(0)).toSet
    assert(seeds.subsetOf(pers.keySet), "every seed holds rank (teleport floor)")
    val seedMean = seeds.toSeq.map(pers).sum / seeds.size
    val otherIds = pers.keySet -- seeds
    assert(otherIds.nonEmpty, "mass spreads beyond the seed set")
    val otherMean = otherIds.toSeq.map(pers).sum / otherIds.size
    assert(seedMean > otherMean, "personalization: seeds average above non-seeds")
    graft.CacheScope.release()
  }

  test("audio_energy: PCM16 stub decode — bounds, frame coverage, energy replay") {
    val dirp = "/root/testdata/sf0.001"
    val out = Multimodal.audioEnergy(spark, dirp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nDocs = graft.sources.Tables.documents(spark, dirp).count()
    assert(out.length === 2 * nDocs, "16-byte clip = 8 samples = 2 frames per doc")
    out.foreach { case (_, fi, n, e, p) =>
      assert(fi === 0L || fi === 1L)
      assert(n === 4L, "full 4-sample frames")
      assert(p <= 32768L && e <= 4L * 32768L * 32768L, "PCM16 bounds")
      assert(e >= p * p, "energy at least the peak's square")
    }
    // direct replay of the stub rule on one clip
    val one = graft.sources.Tables.documents(spark, dirp)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.unhex(org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text").cast("binary"))).as("m"))
      .collect().head
    val bytes = one.getAs[Array[Byte]](1)
    val samples = Multimodal.audioDecodeStub(Iterator((one.getLong(0), bytes))).next()._2
    assert(samples.length === 8)
    val expect0 = samples.take(4).map(s => s.toLong * s.toLong).sum
    val got0 = out.filter(r => r._1 === one.getLong(0) && r._2 === 0L).head._4
    assert(got0 === expect0, "frame-0 energy replays from the stub rule")
  }

  test("pivot_multi: wide cells reconcile with the long-form rollup") {
    val dirp = "/root/testdata/sf0.001"
    val wide = Reshape.pivotMulti(spark, dirp).collect()
      .map(r => r.getString(0) -> r).toMap
    val long = graft.sources.Tables.orders(spark, dirp)
      .groupBy($"o_orderpriority", $"o_orderstatus")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(wide.nonEmpty)
    wide.foreach { case (prio, row) =>
      Seq(("F", 1), ("O", 3), ("P", 5)).foreach { case (st, idx) =>
        val expect = long.getOrElse((prio, st), 0L)
        val got = if (row.isNullAt(idx)) 0L else row.getLong(idx)
        assert(got === expect, s"($prio, $st) count cell")
      }
    }
  }

  test("funnel_latency: latencies positive, p50 <= p90, user counts within funnel counts") {
    val rows = Relational.funnelLatency(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getString(0)).toSet === Set("view_to_click", "click_to_purchase"))
    rows.foreach { r =>
      val (n, p50, p90) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0L && p50 > 0L && p50 <= p90, "ordered positive quantiles")
    }
  }

  test("session_conversion: bands partition all sessions; conversion shares replay") {
    val dirp = "/root/testdata/sf0.001"
    val out = Relational.sessionConversion(spark, dirp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val totalSessions = out.map(_._2).sum
    val nSessions = graft.streaming.EventStream
      .sessionizeBatchWindowed(spark, dirp).count()
    assert(totalSessions === nSessions,
      "band session total equals the gated sessionize count (same gap rule)")
    out.foreach { case (b, n, c, q) =>
      assert(Set("1", "2-4", "5-9", "10+")(b))
      assert(c <= n && q === c * 1048576L / n)
    }
  }

  test("epoch_plan: caps, deficits and totals reconcile exactly") {
    val out = Corpus.epochPlan(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    val total = out.map(_._1).sum
    out.foreach { case (nt, target, ex100, px100, deficit) =>
      assert(target === total / out.length, "uniform target = total div n_sources")
      assert(ex100 === target * 100L / nt, "epochs replay")
      assert(px100 === math.min(ex100, 400L), "4-epoch repeat ceiling")
      // uncapped sources only carry x100-truncation crumbs:
      // target − floor(floor(target·100/nt)·nt/100) < nt/100 + 1
      if (ex100 <= 400L) assert(deficit * 100L < nt + 100L,
        "uncapped deficit is bounded by the x100 truncation crumb")
      else assert(deficit === target - px100 * nt / 100L && deficit > 0L,
        "capped sources report the unfillable remainder")
    }
    graft.CacheScope.release()
  }

  test("bollinger_breach: BigInt replay of the sqrt-free variance inequality") {
    val dirp = "/root/testdata/sf0.001"
    val daily = graft.sources.Tables.orders(spark, dirp)
      .selectExpr(
        "cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint) as day",
        "cast(floor(o_totalprice * 100 + 0.5) as bigint) as cents")
      .groupBy("day")
      .agg(org.apache.spark.sql.functions.sum($"cents").as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expect = daily.indices.map { i =>
      val w = daily.slice(math.max(0, i - 6), i + 1).map(t => BigInt(t._2))
      val (n, x) = (BigInt(w.length), BigInt(daily(i)._2))
      val s1 = w.sum; val s2 = w.map(v => v * v).sum
      val br = if ((n * x - s1).pow(2) > 4 * (n * s2 - s1 * s1)) 1L else 0L
      (daily(i)._1 / 30L, br)
    }.groupBy(_._1).map { case (m, rs) => m -> (rs.length.toLong, rs.map(_._2).sum) }
    val got = Relational.bollingerBreach(spark, dirp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expect, "monthly (n_days, n_breach) replays from the BigInt rule")
  }

  test("cross_corr: bounds, pair counts, and the contemporaneous qty-revenue link") {
    val dirp = "/root/testdata/sf0.001"
    val out = Relational.crossCorr(spark, dirp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(-7L, -3L, -1L, 0L, 1L, 3L, 7L))
    out.foreach { case (lag, n, c) =>
      assert(n > 0L, s"lag $lag has aligned pairs")
      assert(c >= -1.0 && c <= 1.0, s"lag $lag corr in [-1,1]: $c")
    }
    val byLag = out.map(o => o._1 -> o).toMap
    assert(byLag(0L)._3 > 0.5,
      "same-day quantity and revenue must correlate strongly (rev ≈ qty·price)")
    // lag ±L pair counts are symmetric: |days ∩ (days+L)| = |days ∩ (days−L)|
    Seq(1L, 3L, 7L).foreach(l =>
      assert(byLag(l)._2 === byLag(-l)._2, s"lag ±$l pair counts symmetric"))
    graft.CacheScope.release()
  }

  test("clustering_coeff: lattice bounds and reconciliation with the triangle enumeration") {
    val dirp = "/root/testdata/sf0.001"
    val out = Graph.clusteringCoeff(spark, dirp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val tris = Graph.triangles(spark, dirp).collect()
    assert(out.map(_._3).sum === 3L * tris.length,
      "per-node triangle counts sum to 3x the triangle enumeration")
    out.foreach { case (id, deg, nt, cq) =>
      assert(deg >= 1L, s"node $id only appears with an incident pair")
      if (deg < 2L) assert(cq === 0L && nt === 0L)
      else {
        assert(cq === 2L * nt * 1048576L / (deg * (deg - 1L)), "lattice replays")
        assert(cq <= 1048576L, "coefficient bounded by 1 on the 2^20 lattice")
      }
    }
    graft.CacheScope.release()
  }

  test("readability: lattice quotients replay and sentence floors hold") {
    val out = TextAnalysis.readability(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.length === 20, "one row per fixture source")
    out.foreach { case (_, nDocs, w, s, v, wpsQ, vpwQ) =>
      assert(s >= nDocs, "every doc contributes at least one sentence (the floor)")
      assert(w > 0L && v > 0L)
      assert(wpsQ === (BigInt(w) * 1048576 / s).toLong, "words-per-sentence replays")
      assert(vpwQ === (BigInt(v) * 1048576 / w).toLong, "vowel-groups-per-word replays")
      assert(vpwQ >= 1048576L / 2L && vpwQ <= 5L * 1048576L,
        "plausible syllable rate for English-like prose")
    }
  }

  test("audio_vad: islands replay from the stub decode rule") {
    val dirp = "/root/testdata/sf0.001"
    val got = Multimodal.audioVad(spark, dirp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val media = graft.sources.Tables.documents(spark, dirp)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.unhex(org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text").cast("binary"))).as("m"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    assert(got.size === media.length, "every clip reports, silence included")
    media.foreach { case (id, bytes) =>
      val samples = Multimodal.audioDecodeStub(Iterator((id, bytes))).next()._2
      val runs = samples.map(s => math.abs(s.toLong) >= 8192L)
        .foldLeft(List.empty[Long]) {
          case (acc, true) if acc.nonEmpty && acc.head > 0L => (acc.head + 1L) :: acc.tail
          case (acc, true)  => 1L :: acc
          case (acc, false) if acc.nonEmpty && acc.head > 0L => 0L :: acc
          case (acc, false) => acc
        }.filter(_ > 0L)
      val expect = (runs.sum, runs.length.toLong,
        if (runs.isEmpty) 0L else runs.max)
      assert(got(id) === expect, s"clip $id islands replay")
    }
  }

  test("trade_reciprocity: bounded lattice, directional totals reconcile with trade_matrix") {
    val dirp = "/root/testdata/sf0.001"
    val out = Relational.tradeReciprocity(spark, dirp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.foreach { case (a, b, wab, wba, rq) =>
      assert(a < b, "pairs are canonically ordered")
      assert(wab + wba > 0L, "a pair only exists with some flow")
      val expect = BigInt(2) * BigInt(math.min(wab, wba)) * 1048576 / BigInt(wab + wba)
      assert(rq === expect.toLong, "lattice replays")
      assert(rq <= 1048576L, "reciprocity bounded by 1")
      if (wab == 0L || wba == 0L) assert(rq === 0L, "one-way pairs score 0")
    }
    val pairSum = out.map(r => BigInt(r._3) + BigInt(r._4)).sum
    val tm = Relational.tradeMatrix(spark, dirp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tmOffDiag = tm.filter(r => r._1 != r._2).map(r => BigInt(r._3)).sum
    assert(pairSum === tmOffDiag,
      "off-diagonal trade-matrix mass is exactly the reciprocity pairs' mass")
    graft.CacheScope.release()
  }

  test("ab_test: assignment, counts and z replay from the Knuth-hash rule") {
    val dirp = "/root/testdata/sf0.001"
    val r = Relational.abTest(spark, dirp).collect().head
    val users = graft.sources.Tables.events(spark, dirp)
      .select("user_id", "event_type", "value").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2)))
      .groupBy(_._1)
      .map { case (u, evs) =>
        u -> (if (evs.exists(e => e._2 == "purchase" && e._3 >= 200.0)) 1L else 0L) }
    def arm(u: Long): String =
      if (((u % 2147483648L) * 2654435761L) % 4294967296L < 2147483648L) "A" else "B"
    val as = users.filter(kv => arm(kv._1) == "A"); val bs = users.filter(kv => arm(kv._1) == "B")
    assert(r.getLong(0) === as.size.toLong && r.getLong(2) === bs.size.toLong)
    assert(r.getLong(1) === as.values.sum && r.getLong(3) === bs.values.sum)
    val (na, ca, nb, cb) =
      (as.size.toDouble, as.values.sum.toDouble, bs.size.toDouble, bs.values.sum.toDouble)
    val p = (ca + cb) / (na + nb)
    val z = (ca / na - cb / nb) / math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
    assert(r.getDouble(4) === z, "z replays bit-identically from exact counts")
    assert(r.getLong(5) === as.values.sum * 1048576L / as.size)
  }

  test("mutual_knn: canonical order, reciprocity, and cluster-scoped candidates") {
    val dirp = "/root/testdata/sf0.001"
    val pairs = Similarity.mutualKnn(spark, dirp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty)
    assert(pairs.map(p => (p._1, p._2)).distinct.length === pairs.length, "no dup pairs")
    pairs.foreach { case (a, b, c) =>
      assert(a < b, "canonical orientation")
      assert(c >= -1.0001 && c <= 1.0001, "cosine bounds")
    }
    val cells = Similarity.cellAssignments(spark, dirp).collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    pairs.foreach { case (a, b, _) =>
      assert(cells(a) === cells(b), "mutual pairs are cluster-scoped by construction")
    }
    graft.CacheScope.release()
  }

  test("sentence_dedup: lattice replays; boilerplate is cross-doc by construction") {
    val dirp = "/root/testdata/sf0.001"
    val out = TextAnalysis.sentenceDedup(spark, dirp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, ns, nb, bq) =>
      assert(nb <= ns)
      assert(bq === (BigInt(nb) * 1048576 / ns).toLong, "lattice replays")
    }
    // global consistency: boilerplate mass counts each shared sentence
    // once per doc it appears in, so Σ n_boiler ≥ 2 × (#shared forms)
    val totBoiler = out.map(_._3).sum
    assert(totBoiler === 0L || totBoiler >= 2L,
      "a boilerplate sentence implies at least two carrying docs")
    graft.CacheScope.release()
  }

  test("ks_test: D replays from a BigInt ECDF over the bucket lattice") {
    val dirp = "/root/testdata/sf0.001"
    val r = Relational.ksTest(spark, dirp).collect().head
    val per = graft.sources.Tables.orders(spark, dirp)
      .selectExpr("o_custkey", "cast(floor(o_totalprice * 100 + 0.5) as bigint) as cents")
      .groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.sum($"cents").as("m"))
      .join(graft.sources.Tables.customer(spark, dirp)
        .filter($"c_mktsegment".isin("AUTOMOBILE", "BUILDING"))
        .select($"c_custkey", $"c_mktsegment".as("seg")),
        $"o_custkey" === $"c_custkey")
      .select("seg", "m").collect().map(x => (x.getString(0), x.getLong(1)))
    val mx = per.map(_._2).max
    def cdf(seg: String): Array[Long] = {
      val bs = per.filter(_._1 == seg).map(t => t._2 * 256L / (mx + 1L))
      (0L until 256L).toArray.map(h => bs.count(_ <= h).toLong)
    }
    val (c1, c2) = (cdf("AUTOMOBILE"), cdf("BUILDING"))
    val (n1, n2) = (c1.last, c2.last)
    assert(r.getLong(1) === n1 && r.getLong(2) === n2)
    val d = (0 until 256).map(i =>
      math.abs(c1(i) * 1048576L / n1 - c2(i) * 1048576L / n2)).max
    assert(r.getLong(0) === d, "bucketed-KS D replays")
    graft.CacheScope.release()
  }

  test("embed_norm_stats: planted-free replay of the Q-lattice norm on one vector") {
    val dirp = "/root/testdata/sf0.001"
    val out = Similarity.embedNormStats(spark, dirp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.map(_._2).sum ===
      graft.sources.Tables.embeddings(spark, dirp).count(), "every vector profiled")
    out.foreach { case (_, n, mn, mxq, avg) =>
      assert(mn <= avg && avg <= mxq, "mean inside the envelope")
      assert(mn >= 0L, "norms are non-negative")
      assert(n > 0L)
    }
    val one = graft.sources.Tables.embeddings(spark, dirp)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1).toArray))
    val byLabel = one.groupBy(_._1).map { case (l, vs) =>
      l -> vs.map(v => v._2.map(x =>
        { val q = math.floor(x.toDouble * 1048576.0).toLong; q * q }).sum)
    }
    byLabel.foreach { case (l, nqs) =>
      val row = out.find(_._1 == l).get
      assert(row._3 === nqs.min && row._4 === nqs.max, s"label $l min/max replay")
      assert(row._5 === (nqs.map(BigInt(_)).sum / nqs.length).toLong, s"label $l mean replay")
    }
  }

  test("return_rate_trend: lattice replays and deltas telescope") {
    val out = Relational.returnRateTrend(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(out.nonEmpty)
    out.foreach { case (_, n, ret, rq, _) =>
      assert(ret <= n && rq === ret * 1048576L / n)
    }
    assert(out.head._5 === 0L, "first month's delta pins to 0")
    assert(out.map(_._5).sum === out.last._4 - out.head._4,
      "deltas telescope to last minus first")
  }

  test("rollup_share: shares sum to one within lattice truncation, levels reconcile") {
    val out = Relational.rollupShare(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (_, rows) =>
      val s = rows.map(_._4).sum
      assert(s <= 1048576L && s > 1048576L - rows.length,
        "within-region shares sum to 1 minus div-truncation crumbs")
      assert(rows.map(_._5).distinct.length === 1,
        "every nation in a region reports the same region share")
    }
    val regShares = out.groupBy(_._2).map { case (_, rs) => rs.head._5 }.sum
    assert(regShares <= 1048576L && regShares > 1048576L - out.groupBy(_._2).size,
      "region shares sum to 1 minus truncation")
    graft.CacheScope.release()
  }

  test("forecast_backtest: forecasts replay from the month series via BigInt") {
    val dirp = "/root/testdata/sf0.001"
    val series = graft.sources.Tables.orders(spark, dirp)
      .selectExpr(
        "(cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)) div 30 as m",
        "cast(floor(o_totalprice * 100 + 0.5) as bigint) as cents")
      .groupBy("m").agg(org.apache.spark.sql.functions.sum($"cents").as("a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val got = Relational.forecastBacktest(spark, dirp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.size === series.length - 15, "exactly the full-history months emit")
    series.indices.drop(15).foreach { i =>
      val (m, actual) = series(i)
      val base = BigInt(series(i - 12)._2)
      val sRecent = (1 to 3).map(k => BigInt(series(i - k)._2)).sum
      val sYear = (13 to 15).map(k => BigInt(series(i - k)._2)).sum
      val fc = (base * ((sRecent * 1048576) / sYear)) / 1048576
      val (ga, gf, gape) = got(m)
      assert(ga === actual && BigInt(gf) === fc, s"month $m forecast replays")
      assert(BigInt(gape) === (BigInt(actual) - fc).abs * 1048576 / actual)
    }
  }

  test("ltv_curve: cumulation telescopes, censoring is monotone") {
    val out = Relational.ltvCurve(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(out.nonEmpty)
    out.sliding(2).filter(_.length == 2).foreach { case Array(p, c) =>
      assert(c._4 - p._4 === c._3, "cumulative minus previous = tenure mass")
      assert(c._2 <= p._2, "observable customers cannot grow with tenure")
    }
    out.foreach { case (_, obs, _, cum, avg) =>
      assert(obs > 0L && avg === cum / obs)
    }
    graft.CacheScope.release()
  }

  test("minhash_accuracy: estimator bounds and lattice replays") {
    val out = Dedup.minhashAccuracy(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.nonEmpty)
    out.foreach { case (inter, uni, exactQ, matchCnt, estQ, errQ) =>
      assert(inter <= uni)
      assert(exactQ === inter * 1048576L / uni, "exact lattice replays")
      assert(exactQ >= 838860L, "pairs come from the >= 0.8 verified set")
      assert(matchCnt >= 0L && matchCnt <= Dedup.AccPerms.toLong)
      assert(estQ === matchCnt * 1048576L / Dedup.AccPerms)
      assert(errQ === math.abs(estQ - exactQ))
    }
    // calibration: on near-identical pairs the estimator should be
    // nearly saturated on average (j >= 0.8 => E[match] >= 0.8*16)
    val meanMatch = out.map(_._4).sum.toDouble / out.length
    assert(meanMatch >= 0.7 * Dedup.AccPerms, s"estimator grossly off: $meanMatch")
    graft.CacheScope.release()
  }

  test("pca_power: planted dominant axis, renorm saturation, scale invariance") {
    val dim = 8
    // planted diagonal-dominant Gram: axis 5 carries 100× the mass
    val G = Array.tabulate(dim, dim) { (i, j) =>
      if (i == j) BigInt(if (i == 5) 1000000 else 10000)
      else BigInt(if (i == 5 || j == 5) 300 else 7)
    }
    val v = Similarity.powerIterate(G)
    assert(v.map(_.abs).max === BigInt(1) << 20,
      "renormalization must saturate max|v| at exactly 2^20")
    assert(v(5).abs === BigInt(1) << 20,
      "the planted dominant axis must carry the saturated loading")
    assert((0 until dim).filter(_ != 5).forall(i => v(i).abs < (BigInt(1) << 14)),
      "off-axis loadings must collapse under the 100x eigengap")
    // corpus duplication scales G by a constant — loadings can't move
    val v2 = Similarity.powerIterate(G.map(_.map(_ * 17)))
    assert(v2.toSeq === v.toSeq, "power iteration must be scale-invariant")
    // rank-1 signed Gram (x xᵀ for x with mixed signs): the loading
    // recovers x's sign pattern and magnitude order in one round
    val x = Array(BigInt(-3), BigInt(1), BigInt(4), BigInt(-1))
    val G1 = Array.tabulate(4, 4)((i, j) => x(i) * x(j))
    val v1 = Similarity.powerIterate(G1)
    assert(v1.map(_.abs).max === BigInt(1) << 20)
    assert(v1.map(_.signum).toSeq === x.map(_.signum).toSeq ||
      v1.map(-_.signum).toSeq === x.map(_.signum).toSeq,
      "rank-1 Gram must recover the generating sign pattern (up to global sign)")
  }

  test("image_histogram: per-doc pixel mass equals the decoded PNG raster exactly") {
    // the operator's contract: buckets partition ALL pixels (sum n_px
    // = width*height of the encoded image), buckets ∈ [0, 16), and
    // counts are strictly positive (zero rows are dropped)
    val out = Multimodal.imageHistogram(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.forall { case (_, b, n) => b >= 0L && b < 16L && n > 0L })
    val perDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // per doc, the bucket masses must partition the FULL raster —
    // recompute each doc's expected w×h through the same seed rule
    // (w = 4 + md5[0] % 16, h = 4 + md5[1] % 16) via the real codec
    val expected = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "md5(cast(text as binary)) as h")
      .collect()
      .map { r =>
        val seed = r.getString(1).grouped(2)
          .map(Integer.parseInt(_, 16).toByte).toArray
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(Multimodal.encodePng(seed)))
        r.getLong(0) -> img.getWidth.toLong * img.getHeight.toLong
      }.toMap
    assert(perDoc.keySet === expected.keySet, "every document must emit a histogram")
    perDoc.foreach { case (id, n) =>
      assert(n === expected(id), s"doc $id: bucket mass $n != raster ${expected(id)}")
    }
    graft.CacheScope.release()
  }

  test("abc_class / order_size_hist: rollups reconcile exactly against the fact table") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val abc = Relational.abcClass(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(abc.map(_._1).sorted.toSeq === Seq("A", "B", "C"))
    assert(abc.map(_._2).sum === li.select("l_partkey").distinct().count(),
      "class part counts must partition the part space")
    val totCents = li.selectExpr("sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint))")
      .head().getLong(0)
    assert(abc.map(_._3).sum === totCents, "class cents must partition total revenue")
    val shareSum = abc.map(_._4).sum
    assert(shareSum <= 1048576L && shareSum >= 1048576L - 3L,
      s"shares must sum to 2^20 minus truncation dust, got $shareSum")
    val hist = Relational.orderSizeHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hist.map(h => h._1 * h._2).sum === li.count(), "sizes × orders = line count")
    graft.CacheScope.release()
  }

  test("repeat_rate: total repeats = orders minus first-time customers") {
    val sf = "/root/testdata/sf0.001"
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val out = Relational.repeatRate(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).sum === o.count())
    assert(out.map(_._2).sum === o.count() - o.select("o_custkey").distinct().count(),
      "every customer's single first order is the only non-repeat")
    out.foreach { case (n, rep, q) =>
      assert(rep <= n && q === rep * 1048576L / n)
    }
    graft.CacheScope.release()
  }

  test("segment_migration: marginals reconcile with per-year active-customer counts") {
    val sf = "/root/testdata/sf0.001"
    val o = spark.read.parquet(s"$sf/orders.parquet")
    def active(y: Int) = o.filter(s"year(cast(o_orderdate as date)) = $y")
      .select("o_custkey").distinct().count()
    val out = Relational.segmentMigration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.filter(_._1 >= 1L).map(_._3).sum === active(Relational.MigYearA))
    assert(out.filter(_._2 >= 1L).map(_._3).sum === active(Relational.MigYearB))
    assert(!out.exists(r => r._1 == 0L && r._2 == 0L),
      "a customer inactive in both years cannot appear")
    graft.CacheScope.release()
  }

  test("stickiness / event_interarrival: ratio bounds and ordered percentiles") {
    val sf = "/root/testdata/sf0.001"
    Relational.stickiness(spark, sf).collect().foreach { r =>
      val (nDays, sumDau, mau, q) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(mau <= sumDau && sumDau <= nDays * mau,
        "DAU mass is bounded by [MAU, days*MAU]")
      assert(q === sumDau * 1048576L / (nDays * mau) && q <= 1048576L)
    }
    val ia = Relational.eventInterarrival(spark, sf).collect()
    assert(ia.nonEmpty)
    ia.foreach { r =>
      assert(!r.isNullAt(2) && !r.isNullAt(3), "populated types must emit both cuts")
      assert(r.getLong(2) <= r.getLong(3), "p50 <= p90")
    }
    graft.CacheScope.release()
  }

  test("ttr_diversity / token_dispersion / doclen_percentiles: lattice bounds and totals") {
    val sf = "/root/testdata/sf0.001"
    val ttr = TextAnalysis.ttrDiversity(spark, sf).collect()
    ttr.foreach { r =>
      val (nTok, nTyp, nHap) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nHap <= nTyp && nTyp <= nTok)
      assert(r.getLong(4) === nTyp * 1048576L / nTok)
      assert(r.getLong(5) === nHap * 1048576L / nTyp)
    }
    val nd = spark.read.parquet(s"$sf/documents.parquet").count()
    val disp = TextAnalysis.tokenDispersion(spark, sf).collect()
    assert(disp.length === TextAnalysis.DispTopK)
    disp.foreach { r =>
      assert(r.getLong(2) <= nd && r.getLong(1) >= r.getLong(2),
        "df <= n_docs and tf >= df")
      assert(r.getLong(3) <= 1048576L)
    }
    val dl = TextAnalysis.doclenPercentiles(spark, sf).collect()
    assert(dl.map(_.getLong(1)).sum === nd, "per-source doc counts partition the corpus")
    dl.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) <= r.getLong(4),
        "p10 <= p50 <= p90")
    }
    graft.CacheScope.release()
  }

  test("knn_margin / dup_cluster_hist / late_arrival_hist: cross-operator reconciliation") {
    val sf = "/root/testdata/sf0.001"
    // margins are non-negative and d1 matches the gated brute-force
    // top-1 ORDER (cosine and L2 agree on near-unit vectors only up
    // to ties, so reconcile internal invariants, not the ranking)
    val km = Similarity.knnMargin(spark, sf).collect()
    assert(km.nonEmpty)
    km.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "d1 <= d2")
      assert(r.getLong(4) === r.getLong(3) - r.getLong(2))
      assert(r.getLong(0) !== r.getLong(1), "a query is never its own neighbor")
    }
    // histogram mass = dedup_cluster's doc mass, sizes >= 2 only
    val hist = Dedup.dupClusterHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val clustered = Dedup.dedupCluster(spark, sf).count()
    assert(hist.map(_._3).sum === clustered, "histogram must bind every clustered doc")
    assert(hist.forall(h => h._1 >= 2L && h._3 === h._1 * h._2),
      "a 1-doc component cannot exist in the pair graph")
    // lateness: bucket mass = |events|; in-order users put all mass
    // in bucket 0; no negative buckets
    val la = StreamOps.lateArrivalHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ne = spark.read.parquet(s"$sf/events.parquet").count()
    assert(la.map(_._2).sum === ne, "every event lands in exactly one bucket")
    assert(la.forall(_._1 >= 0L), "running max is never behind the current event")
    // planted disorder (the fixture is ts-ordered, so only a planted
    // stream exercises the late path): arrival order 1..4, event
    // times 100, 50, 200, 10 → lateness 0, 50, 0, 190 s → buckets
    // {0: 3 events, 3: 1 event}
    val planted = Seq((1L, 1L, 100L), (1L, 2L, 50L), (1L, 3L, 200L), (1L, 4L, 10L))
      .toDF("user_id", "event_id", "es")
      .selectExpr("user_id", "event_id", "cast(es as timestamp) as ts")
    val ph = StreamOps.lateArrivalHistOf(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ph === Map(0L -> 3L, 3L -> 1L))
    graft.CacheScope.release()
  }

  test("clean_funnel / dedup_rate_by_lang / ngram_coverage: cascade and coverage reconciliation") {
    val sf = "/root/testdata/sf0.001"
    // funnel attrition must reconcile with corpus_clean's own rollup
    val clean = Corpus.corpusClean(spark, sf).groupBy("reason").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fun = Corpus.cleanFunnel(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n0 = clean.values.sum
    assert(fun.find(_._1 == "lang").get._2 === n0)
    fun.foreach { case (stage, nIn, nOut, drop) =>
      assert(nIn - nOut === drop && drop === clean.getOrElse(stage, 0L))
    }
    assert(fun.find(_._1 == "duplicate").get._3 === clean.getOrElse("ok", 0L),
      "the last stage's survivors are exactly the kept docs")
    // per-lang dup mass must total the cluster histogram's non-rep mass
    val byLang = Dedup.dedupRateByLang(spark, sf).collect()
    val hist = Dedup.dupClusterHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(byLang.map(_.getLong(2)).sum === hist.map(h => (h._1 - 1L) * h._2).sum,
      "each cluster contributes size-1 non-representative duplicates")
    // coverage: cumulative share is monotone, caps at 2^20, and rank-1
    // share equals the first cum value
    val cov = TextAnalysis.ngramCoverage(spark, sf).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(cov.length === TextAnalysis.NgcTopK)
    assert(cov.head._3 === cov.head._4, "rank 1: share == cumulative share")
    cov.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2, "counts are rank-ordered")
      assert(b._4 >= a._4 && b._4 <= 1048576L, "cumulative share is monotone, bounded")
    }
    graft.CacheScope.release()
  }

  test("watermark_whatif / cell_label_purity / centroid_outliers / vocab_overlap: invariants") {
    val sf = "/root/testdata/sf0.001"
    // what-if: drop mass is monotone non-increasing in δ, and every
    // row accounts for the full event count
    val ww = StreamOps.watermarkWhatif(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ww.map(_._1).toSeq === StreamOps.WatermarkGrid.sorted)
    assert(ww.map(_._2).distinct.length === 1, "n_events is the same for every δ")
    ww.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, "a larger watermark can only drop fewer events")
    }
    // purity: majority count bounded by membership; members total the
    // corpus; purity on the lattice
    val cp = Similarity.cellLabelPurity(spark, sf).collect()
    val nv = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(cp.map(_.getLong(1)).sum === nv, "cells partition the vector corpus")
    cp.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1))
      assert(r.getLong(4) === r.getLong(3) * 1048576L / r.getLong(1))
    }
    // outliers: exactly K per label, rank-ordered by distance desc
    val co = Similarity.centroidOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    co.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to Similarity.OutlierK.toLong))
      sorted.sliding(2).foreach { case Array(a, b) => assert(b._3 <= a._3) }
    }
    // overlap: full pair grid, jaccard bounded, intersection bounded
    val vo = TextAnalysis.vocabOverlap(spark, sf).collect()
    val nSrc = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().count()
    assert(vo.length.toLong === nSrc * (nSrc - 1) / 2, "every unordered pair appears")
    vo.foreach { r =>
      val (na, nb, ni, j) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(ni <= math.min(na, nb) && j <= 1048576L)
      assert(j === ni * 1048576L / (na + nb - ni))
    }
    graft.CacheScope.release()
  }

  test("session_duration_hist / export_shard_balance / quality_by_source: parents reconcile") {
    val sf = "/root/testdata/sf0.001"
    val sessions = StreamOps.sessionize(spark, sf).collect()
    val sd = StreamOps.sessionDurationHist(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sd.map(_._2).sum === sessions.length.toLong, "buckets partition the sessions")
    assert(sd.map(_._3).sum === sessions.map(_.getLong(3)).sum, "event mass conserved")
    assert(sd.forall(_._1 >= 0L))
    val eb = Corpus.exportShardBalance(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(3)))
    val nd = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(eb.map(_._1).sum === nd, "shards partition the corpus")
    // skew_q = 2^20 means exactly ideal; the mean of n_rows over
    // shards must sit at ideal by construction
    assert(eb.exists(_._2 >= 1048576L) || eb.forall(_._2 === 1048576L),
      "at least one shard sits at or above the ideal")
    val qs = TextAnalysis.qualityBySource(spark, sf).collect()
    val keepTotal = TextAnalysis.gopherQuality(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("keep")).head().getLong(0)
    assert(qs.map(_.getLong(1)).sum === nd)
    assert(qs.map(_.getLong(2)).sum === keepTotal, "keep mass conserved across sources")
    graft.CacheScope.release()
  }

  test("audio_zcr / image_dominant_color: features reconcile with their decoded sources") {
    val sf = "/root/testdata/sf0.001"
    // zcr: replay the stub decode per doc and recount crossings
    val zcr = Multimodal.audioZcr(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "md5(cast(text as binary)) as h").collect()
    assert(zcr.size === docs.length)
    docs.foreach { r =>
      val bytes = r.getString(1).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val samples = Array.tabulate(8) { i =>
        val v = ((bytes(2 * i) & 0xFF) << 8) | (bytes(2 * i + 1) & 0xFF)
        if (v >= 32768) v - 65536 else v
      }
      val zc = (1 until 8).count(i => samples(i - 1).toLong * samples(i).toLong < 0L).toLong
      val (n, nz, got, q) = zcr(r.getLong(0))
      assert(n === 8L && nz === samples.count(_ != 0).toLong)
      assert(got === zc && q === zc * 1048576L / 7L)
    }
    // dominant color: the argmax cell's mass is bounded by the raster
    // and n_cells by the 64-cell palette; dom really is the max
    val dom = Multimodal.imageDominantColor(spark, sf).collect()
    assert(dom.length === docs.length)
    dom.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) < 64L)
      assert(r.getLong(2) >= 1L && r.getLong(3) >= 1L && r.getLong(3) <= 64L)
    }
    graft.CacheScope.release()
  }

  test("bfs_reach / link_predict_ra / chunk_overhead / bloom_probe: contracts execute") {
    val sf = "/root/testdata/sf0.001"
    // bfs_reach: buckets partition the vertex set; d ∈ {-1} ∪ [0, rounds]
    val reach = Graph.bfsReach(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bfsIds = Graph.graphBfs(spark, sf).collect()
    assert(reach.forall { case (d, _) => d >= -1L && d <= 4L })
    assert(reach.filter(_._1 >= 0L).map(_._2).sum === bfsIds.length.toLong,
      "reached buckets must sum to the BFS relation")
    // link_predict_ra: every shared part has degree >= 2 (both ends
    // bought it), so each RA term is <= 2^20/2 and ra_q <= n_shared * 2^19
    val ra = Graph.linkPredictRa(spark, sf).collect()
    assert(ra.nonEmpty)
    ra.foreach { r =>
      assert(r.getLong(2) >= 1L, "candidates share at least one part")
      assert(r.getLong(3) <= r.getLong(2) * 524288L, "RA term bound violated")
    }
    // chunk_overhead: inflation sits in [1, 64/48] on the lattice and
    // the chunk counts reconcile with doc_chunks
    val oh = TextAnalysis.chunkOverhead(spark, sf).collect()
    val nChunks = TextAnalysis.docChunks(spark, sf).count()
    assert(oh.map(_.getLong(2)).sum === nChunks)
    oh.foreach { r =>
      assert(r.getLong(4) >= 1048576L && r.getLong(4) <= 1398102L,
        s"doc ${r.getLong(0)}: overhead_q ${r.getLong(4)} outside [1, 4/3]")
    }
    // bloom_probe: NO false negatives — every true member must be a
    // bloom positive, i.e. positives minus FPs equals the member count
    val bp = Relational.bloomProbe(spark, sf).collect().head
    assert(bp.getLong(2) - bp.getLong(3) === bp.getLong(1),
      "bloom filter produced a false negative")
    graft.CacheScope.release()
  }

  test("join_dpp / pca_project / ktruss: results reconcile with their unpruned sources") {
    val sf = "/root/testdata/sf0.001"
    // join_dpp: the pruned aggregate must equal the same aggregate
    // computed WITHOUT partition pruning over the raw orders table
    val dpp = Relational.joinDpp(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val direct = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("cast(year(o_orderdate) as long) as y",
        "cast(floor(o_totalprice * 100 + 0.5) as bigint) as cents")
      .groupBy("y")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("cents").as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(dpp.size === 2, "exactly the top-2 return years survive pruning")
    dpp.foreach { case (y, (n, s)) =>
      assert(direct(y) === ((n, s)), s"year $y diverges from the unpruned aggregate")
    }
    // pca_project: replay the dot product in BigInt for every vector
    val loadings = Similarity.pcaPower(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, BigInt(r.getLong(1)))).sortBy(_._1).map(_._2)
    val scores = Similarity.pcaProject(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(floor(cast(x as double) * 1048576.0) as bigint)) as q")
      .collect()
    assert(scores.size === vecs.length)
    vecs.foreach { r =>
      val q = r.getSeq[Long](1)
      val raw = q.indices.map(i => BigInt(q(i)) * loadings(i)).sum
      assert(BigInt(scores(r.getLong(0))) === raw / BigInt(1048576),
        s"vec ${r.getLong(0)}: projection drifted from the BigInt replay")
    }
    // ktruss: sf0.001 contains exactly one planted K4 — 6 edges over
    // 4 vertices, every edge at support 2, a subset of the pair graph
    val truss = Graph.ktruss(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = Dedup.dedupNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truss.length === 6, s"expected the K4's 6 edges, got ${truss.length}")
    assert(truss.forall(e => pairs((e._1, e._2))), "truss edges must come from the pair graph")
    assert(truss.forall(_._3 === 2L), "every K4 edge participates in exactly 2 surviving triangles")
    assert(truss.flatMap(e => Seq(e._1, e._2)).distinct.length === 4)
    graft.CacheScope.release()
  }

  test("ann_filtered / dedup_keep_best / image_edge_density / schema_evolution: contracts execute") {
    val sf = "/root/testdata/sf0.001"
    // ann_filtered: every neighbor shares its query's label; ranks
    // are consecutive from 1 per query
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "cast(label as long) as l").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val af = Similarity.annFiltered(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(af.nonEmpty)
    af.foreach { case (qid, ql, _, nid) =>
      assert(ql === labels(qid), "emitted label must be the query's")
      assert(labels(nid) === ql, s"neighbor $nid crossed the label filter of query $qid")
    }
    af.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length.toLong))
    }
    // dedup_keep_best: same clusters as dedup_keep, exactly one keep
    // per cluster, and the kept member is never worse than the min-id
    // keeper under the quality order
    val best = Dedup.dedupKeepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keepMinId = Dedup.dedupKeep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(best.map(r => (r._1, r._2)).toMap === keepMinId, "cluster assignment must match dedup_keep")
    best.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.map(_._3).sum === 1L, s"cluster $c must keep exactly one member")
    }
    // image_edge_density: interior size reconciles with the real
    // decoded raster dimensions; share bounded on the lattice
    val ed = Multimodal.imageEdgeDensity(spark, sf).collect()
    val dims = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "md5(cast(text as binary)) as h").collect()
      .map { r =>
        val seed = r.getString(1).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(Multimodal.encodePng(seed)))
        r.getLong(0) -> (img.getWidth - 1).toLong * (img.getHeight - 1).toLong
      }.toMap
    assert(ed.length === dims.size)
    ed.foreach { r =>
      assert(r.getLong(2) === dims(r.getLong(0)), "interior must match the decoded raster")
      assert(r.getLong(1) <= r.getLong(2) && r.getLong(3) <= 1048576L)
    }
    // schema_evolution: the merged read partitions the corpus by
    // generation — new column present iff the 1995+ generation
    val se = Relational.schemaEvolution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nOrders = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(se.map(_._2).sum === nOrders, "merged read must cover every order")
    se.foreach { case (y, n, withPrio) =>
      assert(if (y >= 1995L) withPrio === n else withPrio === 0L,
        s"year $y: generation column bled across the merge")
    }
    graft.CacheScope.release()
  }

  test("theilsen_trend / hard_negatives / embed_center / jsonl_roundtrip: contracts execute") {
    val sf = "/root/testdata/sf0.001"
    // theilsen: the pair count is exactly the trailing-year day grid
    val ts = Relational.theilsenTrend(spark, sf).collect().head
    val (nDays, nPairs) = (ts.getLong(0), ts.getLong(1))
    assert(nPairs === nDays * (nDays - 1) / 2, "pair grid must cover every ordered day pair")
    assert(nDays <= 365L, "the trailing-year cut must bound the fold")
    // hard negatives: every neighbor is a DIFFERENT label than its query
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "cast(label as long) as l").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val hn = Similarity.hardNegatives(spark, sf).collect()
    assert(hn.nonEmpty)
    hn.foreach { r =>
      assert(labels(r.getLong(3)) !== r.getLong(1),
        s"neighbor ${r.getLong(3)} shares the label of query ${r.getLong(0)} — not a negative")
    }
    // embed_center: truncated means can only REMOVE energy in total
    val ecRows = Similarity.embedCenter(spark, sf).collect()
    val rawSum = ecRows.map(r => BigInt(r.getLong(1))).sum
    val cenSum = ecRows.map(r => BigInt(r.getLong(2))).sum
    assert(cenSum <= rawSum, "centering must not increase total second moment")
    // jsonl: the re-read covers every event exactly once
    val jr = Relational.jsonlRoundtrip(spark, sf).collect()
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    assert(jr.map(_.getLong(1)).sum === nEvents, "JSONL round trip lost or duplicated rows")
    graft.CacheScope.release()
  }

  test("k_anonymity / quantile_normalize / scene_cuts: contracts execute") {
    val sf = "/root/testdata/sf0.001"
    // k_anonymity: groups partition the customer table; flags honest
    val ka = Relational.kAnonymity(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    val nCust = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(ka.map(_._1).sum === nCust, "QI groups must partition the table")
    ka.foreach { case (n, l, risky) =>
      assert(risky === (if (n < 5L) 1L else 0L))
      assert(l >= 1L && l <= n)
    }
    // quantile_normalize: every doc mapped once; within a source the
    // map is monotone in the length rank; values come from the corpus
    val qn = Relational.quantileNormalize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nd = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(qn.length.toLong === nd, "every document must map exactly once")
    val lens = qn.map(_._3)
    qn.foreach(r => assert(r._4 >= lens.min && r._4 <= lens.max))
    qn.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1)).map(_._4)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a <= b, "rank map must be monotone within a source")
        case _ =>
      }
    }
    // scene_cuts: replay the 16-bit hamming rule from the md5 payload
    val sc = Multimodal.sceneCuts(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "md5(cast(text as binary)) as h").collect()
    assert(sc.size === docs.length)
    docs.foreach { r =>
      val fr = r.getString(1).grouped(4).map(Integer.parseInt(_, 16)).toArray
      val hs = (1 until fr.length).map(i => java.lang.Integer.bitCount(fr(i - 1) ^ fr(i)).toLong)
      val (nf, cuts, mx) = sc(r.getLong(0))
      assert(nf === 8L && cuts === hs.count(_ >= 9L).toLong && mx === hs.max)
    }
    graft.CacheScope.release()
  }

  test("orc_roundtrip / observed_scan / fano_factor: contracts execute") {
    val sf = "/root/testdata/sf0.001"
    // orc: the filtered round trip covers exactly the non-view events
    val oc = Relational.orcRoundtrip(spark, sf).collect()
    val expected = spark.read.parquet(s"$sf/events.parquet")
      .filter("event_type <> 'view'").count()
    assert(oc.map(_.getLong(1)).sum === expected, "ORC round trip lost or duplicated rows")
    // observed_scan: the metric side-channel equals the explicit aggregate
    val os = Relational.observedScan(spark, sf).collect().head
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("count(1) as n", "sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint)) as s",
        "max(cast(l_quantity as bigint)) as m").collect().head
    assert(os.getLong(0) === direct.getLong(0) && os.getLong(1) === direct.getLong(1) &&
      os.getLong(2) === direct.getLong(2), "observation diverged from the explicit aggregate")
    // fano: per type, s1 must equal that type's event count; the
    // dispersion index is non-negative by Cauchy-Schwarz
    val ff = Relational.fanoFactor(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    val perType = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("event_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    ff.foreach { case (t, s1, fano) =>
      assert(s1 === perType(t), s"type $t: hourly counts must sum to the event count")
      assert(fano >= 0L)
    }
    graft.CacheScope.release()
  }

  test("audio_wht / label_noise / conformal_knn / kendall_tau: contracts execute") {
    val sf = "/root/testdata/sf0.001"
    // Parseval: ΣX_k² = 8·Σx² — the WHT is orthogonal (H·Hᵀ = 8·I),
    // so spectral energy must equal 8× audio_energy's per-clip sum
    val wht = Multimodal.audioWht(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(4))).toMap
    val eng = Multimodal.audioEnergy(spark, sf)
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum("energy").as("e")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(wht.nonEmpty && wht.forall { case (id, se) => se === 8L * eng(id) },
      "Parseval violated: spec_energy != 8 * sum(sample^2)")
    // label_noise: per-label counts partition the corpus; a vector
    // never flags without voting; rates live on the lattice
    val ln = Similarity.labelNoise(spark, sf).collect()
    val nTotal = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(ln.map(_.getLong(1)).sum === nTotal, "label rows must partition the corpus")
    ln.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= r.getLong(2),
        "n_flagged <= n_voted <= n")
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1048576L)
    }
    // conformal: own-label coverage implies set membership, so the
    // mean prediction-set size dominates coverage per label (exact)
    Similarity.conformalKnn(spark, sf).collect().foreach { r =>
      assert(r.getLong(5) >= r.getLong(3), "mean_set_q >= coverage_q is a theorem")
      assert(r.getLong(2) <= r.getLong(1), "covered <= tested")
    }
    // kendall: ranks are permutations (total order breaks ties), so
    // no pair is ever neutral — conc + disc == n_pairs == n(n-1)/2
    val kt = Relational.kendallTau(spark, sf).collect().head
    assert(kt.getLong(1) + kt.getLong(2) === kt.getLong(0),
      "distinct ranks leave no neutral pairs")
    assert(kt.getLong(0) === 300L, "25 nations -> 300 pairs")
    assert(math.abs(kt.getLong(3)) <= 1048576L)
    graft.CacheScope.release()
  }

  test("t_closeness / table_fingerprint / graph_diameter / image_equalize: contracts execute") {
    val sf = "/root/testdata/sf0.001"
    // EMD is normalized: 0 <= emd_q <= 2^20; flag honesty
    Relational.tCloseness(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1048576L, "EMD must be normalized")
      assert(r.getLong(4) === (if (r.getLong(3) > 209715L) 1L else 0L), "t_fail must mirror the cut")
    }
    // fingerprint: per-flag rows partition the table; the sum-hash is
    // deterministic across independent runs (order-insensitivity is
    // by construction — addition commutes)
    val fp1 = Relational.tableFingerprint(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val fp2 = Relational.tableFingerprint(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(fp1.toSeq === fp2.toSeq, "fingerprint must be run-invariant")
    assert(fp1.map(_._2).sum ===
      spark.read.parquet(s"$sf/lineitem.parquet").count())
    fp1.foreach(t => assert(t._3 >= 0L && t._3 < 2305843009213693952L))
    // double sweep: seed1 sits ecc1 hops from seed2, and ecc1 <=
    // DiamRounds by construction, so sweep 2 must see >= ecc1
    val gd = Graph.graphDiameter(spark, sf).collect().head
    assert(gd.getLong(3) >= gd.getLong(1), "diameter_lb >= ecc1 (seed1 is reachable in sweep 2)")
    assert(gd.getLong(1) <= 3L && gd.getLong(3) <= 3L, "bounded sweeps cap at DiamRounds")
    assert(gd.getLong(4) >= 1L && gd.getLong(5) >= 1L)
    // equalization stretches to the full [0,255] range whenever >= 2
    // gray levels exist -> strictly positive mapped variance
    Multimodal.imageEqualize(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(4) >= 0L, "variance numerators are nonnegative")
      if (r.getLong(2) >= 2L)
        assert(r.getLong(4) > 0L, "min->0 and max->255 force a spread after equalization")
    }
    graft.CacheScope.release()
  }

  test("auc_rank / chi2_independence / runs_test / mrr_eval: eval-stat invariants") {
    val sf = "/root/testdata/sf0.001"
    val o = spark.read.parquet(s"$sf/orders.parquet")
    // AUC: row counts partition the order table; auc_q ∈ [0, 2^20]
    // (the Mann-Whitney statistic is a probability on the lattice)
    val auc = Relational.aucRank(spark, sf).collect().head
    assert(auc.getLong(0) + auc.getLong(1) === o.count(),
      "pos + neg must partition orders")
    assert(auc.getLong(2) >= 0L && auc.getLong(2) <= 1048576L)
    // chi2: nonnegative by the clamped Cauchy-Schwarz floor; df is
    // (|segments|-1)(|priorities|-1); n covers every joined order
    val chi = Relational.chi2Independence(spark, sf).collect().head
    assert(chi.getLong(0) === o.count(), "every order joins its customer")
    assert(chi.getLong(1) === 16L, "5 segments x 5 priorities -> df 16")
    assert(chi.getLong(2) >= 0L)
    // runs test: signs partition the non-median days; runs count is
    // bounded by [1, m]; the flag is binary
    val rt = Relational.runsTest(spark, sf).collect().head
    assert(rt.getLong(1) + rt.getLong(2) === rt.getLong(0), "n1 + n2 = n")
    assert(rt.getLong(3) >= 1L && rt.getLong(3) <= rt.getLong(0))
    assert(rt.getLong(4) === 0L || rt.getLong(4) === 1L)
    // MRR: one row per query; rr_q is exactly the lattice reciprocal
    // of first_rank (0 iff no in-label neighbor within depth)
    val mrr = Similarity.mrrEval(spark, sf).collect()
    assert(mrr.length === 10)
    mrr.foreach { r =>
      val (fr, rr) = (r.getLong(2), r.getLong(3))
      assert(fr >= 0L && fr <= 50L)
      assert(rr === (if (fr == 0L) 0L else 1048576L / fr))
    }
    graft.CacheScope.release()
  }

  test("ledger_recon / attribution_position / keyword_rake / lsh_threshold_plan invariants") {
    val sf = "/root/testdata/sf0.001"
    // recon statuses partition the order table exactly
    val rec = Relational.ledgerRecon(spark, sf).collect()
    assert(rec.map(_.getLong(1)).sum ===
      spark.read.parquet(s"$sf/orders.parquet").count())
    // per-user credit sums to exactly 2^20 (dust pinned to the last
    // interior touch), so total credit = 2^20 x credited users
    val ev = spark.read.parquet(s"$sf/events.parquet")
    ev.createOrReplaceTempView("ev")
    val credited = spark.sql(
      """SELECT count(DISTINCT e.user_id) FROM ev e
        |JOIN (SELECT user_id, min(ts) pt FROM ev
        |      WHERE event_type = 'purchase' GROUP BY 1) p
        |  ON e.user_id = p.user_id
        |WHERE e.event_type IN ('view','click') AND e.ts < p.pt""".stripMargin)
      .head().getLong(0)
    val att = Relational.attributionPosition(spark, sf).collect()
    assert(att.map(_.getLong(3)).sum === credited * 1048576L,
      "U-shaped credit must sum to 2^20 per credited user")
    // RAKE: top-20 rows, no stopword ever inside a phrase, positive scores
    val rake = TextAnalysis.keywordRake(spark, sf).collect()
    assert(rake.length === 20)
    rake.foreach { r =>
      val words = r.getString(0).split(" ")
      assert(words.nonEmpty && words.forall(w => !TextAnalysis.Stopwords.contains(w)))
      assert(r.getLong(1) >= 1L && r.getLong(2) > 0L)
    }
    // S-curve: probability-shaped, monotone in s, and at a fixed s a
    // taller band count (smaller r) can only raise the match chance
    val plan = Dedup.lshThresholdPlan(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    assert(plan.values.forall(p => p >= 0L && p <= 1048576L))
    for (b <- Seq(32L, 16L, 8L, 4L); i <- 2 to 9) {
      val s = (i * 1048576L) / 10
      val sPrev = ((i - 1) * 1048576L) / 10
      assert(plan((b, s)) >= plan((b, sPrev)), s"monotone in s for b=$b")
    }
    for (i <- 1 to 9; (hi, lo) <- Seq((32L, 16L), (16L, 8L), (8L, 4L))) {
      val s = (i * 1048576L) / 10
      assert(plan((hi, s)) >= plan((lo, s)), s"more bands never lowers p at s=$s")
    }
    graft.CacheScope.release()
  }

  test("price_index / brand_loyalty / image_tile_stats / audio_clip_detect invariants") {
    val sf = "/root/testdata/sf0.001"
    // the base year indexes to exactly 2^20: numerator = denominator
    val piRows = Relational.priceIndex(spark, sf).collect()
    val base = piRows.find(_.getLong(0) == 1995L)
    assert(base.isDefined && base.get.getLong(2) === 1048576L,
      "Laspeyres base year must index to exactly 2^20")
    assert(piRows.nonEmpty)
    // loyalty deciles cover [0,9] and partition the customer base
    val bl = Relational.brandLoyalty(spark, sf).collect()
    assert(bl.forall(r => r.getLong(0) >= 0L && r.getLong(0) <= 9L))
    val nCust = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        $"l_orderkey" === $"o_orderkey")
      .select("o_custkey").distinct().count()
    assert(bl.map(_.getLong(1)).sum === nCust,
      "every ordering customer lands in exactly one decile")
    // tiles partition the raster exactly; spreads are ordered
    val tiles = Multimodal.imageTileStats(spark, sf).collect()
      .groupBy(_.getLong(0))
    val dims = Multimodal.multimodalPng(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1) * r.getLong(2))).toMap
    tiles.foreach { case (id, qs) =>
      assert(qs.length === 4)
      assert(qs.map(_.getLong(3)).sum === dims(id), "quadrants partition the raster")
      qs.foreach(r => assert(r.getLong(5) <= r.getLong(6), "min <= max"))
    }
    // clip runs are bounded by the clip count; the flag mirrors >= 2
    Multimodal.audioClipDetect(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) === 8L)
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getLong(4) === (if (r.getLong(2) >= 2L) 1L else 0L))
      if (r.getLong(2) > 0L) assert(r.getLong(3) >= 1L)
    }
    graft.CacheScope.release()
  }

  test("twonn_ratio / lang_margin / rolling_mode invariants") {
    val sf = "/root/testdata/sf0.001"
    // ratio buckets live in [0,9]; every retained point has d2 >= d1
    // > 0 so the excess is nonnegative by construction
    val tn = Similarity.twonnRatio(spark, sf).collect()
    assert(tn.nonEmpty)
    assert(tn.forall(r => r.getLong(0) >= 0L && r.getLong(0) <= 9L))
    // margin decomposes: s1 >= s2 >= 0, flag mirrors its definition,
    // and 'und' appears exactly when no marker hit at all
    val lm = TextAnalysis.langMargin(spark, sf).collect()
    assert(lm.nonEmpty)
    lm.foreach { r =>
      val (top, s1, s2, m, fl) =
        (r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(s1 >= s2 && s2 >= 0L && m === s1 - s2)
      assert((top == "und") === (s1 == 0L))
      assert(fl === (if (s1 > 0L && s2 > 0L && m <= 1L) 1L else 0L))
    }
    // the trailing-7-day mode on day d counts at least the single-day
    // winner's mass and reports every active day exactly once
    val f = spark.read.parquet(s"$sf/events.parquet")
      .selectExpr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint) as day")
      .distinct().count()
    val rm = Relational.rollingMode(spark, sf).collect()
    assert(rm.length.toLong === f, "one mode row per active day")
    assert(rm.forall(_.getLong(2) >= 1L))
    graft.CacheScope.release()
  }

  test("pq_code_balance / split_balance / decay_score invariants") {
    val sf = "/root/testdata/sf0.001"
    // 8 subspaces; used + dead = 256; the top share can't undercut
    // the uniform floor (ceil handled by lattice truncation)
    val pb = Similarity.pqCodeBalance(spark, sf).collect()
    assert(pb.length === 8)
    pb.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === 256L)
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 256L)
      assert(r.getLong(4) >= 1048576L / r.getLong(1) - 1L,
        "top code share can't beat the uniform floor")
    }
    // split x lang cells partition the corpus; shares per split sum
    // to 2^20 minus truncation dust
    val sb = Corpus.splitBalance(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(sb.map(_.getLong(2)).sum === nDocs)
    sb.groupBy(_.getString(0)).foreach { case (_, cells) =>
      val s = cells.map(_.getLong(3)).sum
      assert(s <= 1048576L && s >= 1048576L - cells.length,
        "in-split shares must sum to 2^20 minus dust")
    }
    // decayed mass can never exceed raw mass (weights <= 2^20), and
    // events on the reference day carry full weight
    val ds = Relational.decayScore(spark, sf).collect()
    assert(ds.nonEmpty)
    ds.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
    graft.CacheScope.release()
  }

  test("doc_quality_ensemble / parquet_bloom invariants") {
    val sf = "/root/testdata/sf0.001"
    // the ensemble's keep set IS gopher's keep set minus the two
    // extra rules (repetition, blocklist) — a doc the ensemble keeps
    // must pass gopher, and cascade reasons are from the closed set
    val ens = TextAnalysis.docQualityEnsemble(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    val gopher = TextAnalysis.gopherQuality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(6)).toMap
    val reasons = Set("too_few_words", "too_many_words", "word_len",
      "alpha_ratio", "stopwords", "repetition", "blocklist", "pass")
    ens.foreach { case (id, (reason, keep)) =>
      assert(reasons.contains(reason))
      assert(keep === (if (reason == "pass") 1L else 0L))
      if (keep == 1L) assert(gopher(id) === 1L,
        s"doc $id kept by the ensemble must pass the gopher battery")
    }
    assert(ens.size === gopher.size, "one verdict per document")
    // the bloom-equipped export must read back content-identical to
    // the fixture under the same probe
    val viaBloom = Relational.parquetBloom(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val direct = spark.read.parquet(s"$sf/events.parquet")
      .filter($"user_id" % 97 === 3)
      .groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr(
            "cast(floor(value * 100 + 0.5) as bigint)")).as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(viaBloom.toSeq === direct.toSeq)
    graft.CacheScope.release()
  }

  test("ann_filtered_ivf / rand_response invariants") {
    val sf = "/root/testdata/sf0.001"
    // filtered-IVF results are a subset of the probed-cell candidate
    // semantics: every neighbor shares the query label, ranks are
    // 1..K dense per query
    val fi = Similarity.annFilteredIvf(spark, sf).collect()
    assert(fi.nonEmpty)
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "cast(label as long) as label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    fi.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      rows.foreach { r =>
        assert(r.getLong(1) === labels(qid), "query label rides the output")
        assert(labels(r.getLong(3)) === labels(qid), "neighbor label must match")
      }
      assert(rows.map(_.getLong(2)).sorted.toSeq ===
        (1L to rows.length.toLong).toSeq, "dense ranks per query")
    }
    // randomized response: reports partition n; the doubled estimator
    // is exactly 4*n_priv - n; err2x mirrors |est2x - 2*n_true|
    val rr = Relational.randResponse(spark, sf).collect()
    assert(rr.nonEmpty)
    rr.foreach { r =>
      val (n, t, p, est, err) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(t <= n && p <= n)
      assert(est === 4L * p - n)
      assert(err === math.abs(est - 2L * t))
    }
    graft.CacheScope.release()
  }

  test("temporal_audit / histogram2d / revenue_bridge invariants") {
    val sf = "/root/testdata/sf0.001"
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    // rule populations: every line item is checked; violations bounded
    val ta = Relational.temporalAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ta("ship_before_order")._1 === li.count())
    ta.values.foreach { case (n, v) => assert(v >= 0L && v <= n) }
    // grid cells partition the fact table in count AND mass
    val h2 = Relational.histogram2d(spark, sf).collect()
    assert(h2.map(_.getLong(2)).sum === li.count())
    val cents = li.selectExpr(
      "sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint))").head().getLong(0)
    assert(h2.map(_.getLong(3)).sum === cents)
    h2.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) <= 9L)
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 9L)
    }
    // the bridge identity: rev_t == retained_prev + expansion
    //  - contraction + new, for every year with a current-year side
    val yearRev = o.selectExpr(
      "cast(year(cast(o_orderdate as date)) as bigint) as yr",
      "cast(floor(o_totalprice * 100 + 0.5) as bigint) as cents")
      .groupBy("yr").sum("cents").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Relational.revenueBridge(spark, sf).collect().foreach { r =>
      val yr = r.getLong(0)
      val recon = r.getLong(8) + r.getLong(6) - r.getLong(7) + r.getLong(4)
      assert(recon === yearRev.getOrElse(yr, 0L),
        s"bridge must reconcile year $yr revenue exactly")
    }
    graft.CacheScope.release()
  }

  test("ivf_probe_curve / single_source_parts invariants") {
    val sf = "/root/testdata/sf0.001"
    // recall is monotone in probe count (more cells can only add
    // candidates) and the shipped NProbe=8 point matches ann_recall
    val curve = Similarity.ivfProbeCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(curve.keySet === Set(1L, 2L, 4L, 8L))
    assert(curve(1L) <= curve(2L) && curve(2L) <= curve(4L)
      && curve(4L) <= curve(8L), "recall must be monotone in nprobe")
    val shipped = Similarity.annRecall(spark, sf).collect()
    val corpus = (shipped.map(_.getLong(2)).sum * 1048576L) /
      shipped.map(_.getLong(1)).sum
    assert(curve(8L) === corpus,
      "the curve's nprobe=8 point must equal the shipped ann_recall rollup")
    // every brand's single-sourced parts are bounded by its parts;
    // brands with min_suppliers > 1 report zero singles
    Relational.singleSourceParts(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      if (r.getLong(3) > 1L) assert(r.getLong(2) === 0L)
      assert(r.getLong(4) === r.getLong(2) * 1048576L / r.getLong(1))
    }
    graft.CacheScope.release()
  }

  test("export_manifest / audio_gain_plan invariants") {
    val sf = "/root/testdata/sf0.001"
    // manifest counts partition the corpus; shard keys stay in range;
    // fingerprints sit on the mod-2^61 lattice
    val man = Corpus.exportManifest(spark, sf).collect()
    assert(man.map(_.getLong(1)).sum ===
      spark.read.parquet(s"$sf/documents.parquet").count())
    man.foreach { r =>
      assert(r.getLong(0) >= 0L && r.getLong(0) < 64L)
      assert(r.getLong(2) <= r.getLong(3), "doc-id span ordered")
      assert(r.getLong(4) >= 0L && r.getLong(4) < 2305843009213693952L)
    }
    // the planned peak after the truncating gain can never clip and
    // lands within one gain step of the 30000 target; silent clips
    // plan zero gain
    Multimodal.audioGainPlan(spark, sf).collect().foreach { r =>
      val (peak, gain, planned, silent) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      if (silent == 1L) assert(peak === 0L && gain === 0L && planned === 0L)
      else {
        assert(planned <= 30000L, "a planned peak must never clip")
        assert(planned === peak * gain / 1048576L)
        assert(planned > 30000L - (peak * 2L), "truncation loses < 2 peak steps")
      }
    }
    graft.CacheScope.release()
  }

  test("keyword_rake: hand-computed scores on a planted uniform-phrase corpus") {
    // every phrase has length 2, so deg(w) = 2·freq(w) for every word
    // -> word score = 2·2^20 exactly, phrase score = 4·2^20 exactly,
    // regardless of frequencies ("of"/"and" are stopword delimiters)
    val planted = docs(
      1L -> "red apples and green apples",
      2L -> "red apples of blue pears")
    val out = TextAnalysis.rakeOf(planted).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq === Seq(
      ("blue pears", 1L, 4194304L),
      ("green apples", 1L, 4194304L),
      ("red apples", 2L, 4194304L)))
    // mixed lengths: "alpha beta gamma" (len 3) + "alpha" (len 1):
    // deg(alpha)=3+1=4, freq=2 -> score 2·2^20; beta/gamma deg 3,
    // freq 1 -> 3·2^20; phrase "alpha beta gamma" = 8·2^20,
    // "alpha" = 2·2^20
    val mixed = docs(1L -> "alpha beta gamma and alpha")
    val m = TextAnalysis.rakeOf(mixed).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(m("alpha beta gamma") === 8L * 1048576L)
    assert(m("alpha") === 2L * 1048576L)
    graft.CacheScope.release()
  }

  test("fd_check: planted determinant with two dependents is the only violation") {
    val df = Seq(("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("b", "y"))
      .toDF("det", "dep")
    val r = DataQuality.fdAudit(spark, Seq(df -> Seq(("planted", "det", "dep")))).collect().head
    assert(r.getString(0) === "planted")
    assert(r.getLong(1) === 2L, "two determinant keys")
    assert(r.getLong(2) === 1L, "only b violates")
    assert(r.getLong(3) === 3L, "the 3 rows under b are the repair mass")
  }

  test("ref_integrity / fd_check: empty tables keep one row per rule, count 0 and NULL sums") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_empty_rules")
    try {
      // every table the two ops read, empty, with the columns they read
      Seq("lineitem" -> "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT",
        "orders" -> "o_orderkey BIGINT, o_custkey BIGINT, o_orderpriority STRING",
        "customer" -> "c_custkey BIGINT, c_nationkey BIGINT, c_mktsegment STRING",
        "part" -> "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING",
        "supplier" -> "s_suppkey BIGINT", "nation" -> "n_nationkey BIGINT",
        "events" -> "user_id BIGINT, ts TIMESTAMP").foreach { case (t, ddl) =>
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(ddl)).write.parquet(s"$tmp/$t.parquet")
      }
      val ri = Relational.refIntegrity(spark, tmp.toString).collect()
      assert(ri.map(_.getString(0)).toSet === Set("lineitem_orders", "lineitem_part",
        "lineitem_supplier", "orders_customer", "customer_nation", "events_customer"))
      ri.foreach { r =>
        assert(r.getLong(1) === 0L && r.isNullAt(2) && r.isNullAt(3), r.toString)
      }
      val fd = DataQuality.fdCheck(spark, tmp.toString).collect()
      assert(fd.map(_.getString(0)).toSet === Set("part_brand_type", "part_name_brand",
        "orders_cust_priority", "customer_nation_segment"))
      fd.foreach { r =>
        assert(r.getLong(1) === 0L && r.isNullAt(2) && r.isNullAt(3), r.toString)
      }
    } finally {
      graft.CacheScope.release()
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  test("cohens_kappa: hand-computed planted confusion matrices, incl. negative-κ truncation") {
    def cells(rows: (String, String, Long)*) =
      rows.toDF("lang", "pred_lang", "n")
    // N=100, agree=70 (po=0.7); margins A:50/60, B:50/40 -> S=5000
    // (pe=0.5); kappa=(0.7-0.5)/0.5=0.4 -> floor(0.4*2^20)=419430
    val k1 = TextAnalysis.kappaOfCells(spark, cells(
      ("A", "A", 40L), ("B", "B", 30L), ("A", "B", 10L), ("B", "A", 20L)))
      .collect().head
    assert((k1.getLong(0), k1.getLong(1)) === ((100L, 70L)))
    assert(k1.getLong(2) === 734003L, "po_q = 70*2^20/100 truncated")
    assert(k1.getLong(3) === 524288L, "pe_q = 0.5 exactly")
    assert(k1.getLong(4) === 419430L, "kappa_q = 0.4*2^20 truncated")
    // negative kappa pins SIGN-SYMMETRIC truncation (not floor):
    // N=3, agree=0, S=4 -> kappa = -4*2^20/5 = -838860.8 -> -838860
    val k2 = TextAnalysis.kappaOfCells(spark, cells(
      ("A", "B", 2L), ("B", "A", 1L))).collect().head
    assert(k2.getLong(4) === -838860L,
      "negative kappa must truncate toward zero (floor would be -838861)")
    // empty cells: one all-zero row on both engines, never NULL/error
    val k0 = TextAnalysis.kappaOfCells(spark, cells().limit(0)).collect().head
    assert((0 to 4).map(k0.getLong) === Seq(0L, 0L, 0L, 0L, 0L))
    // kappa <= po is an identity (pe >= 0): holds on the fixture too
    val kf = TextAnalysis.cohensKappa(spark, "/root/testdata/sf0.001").collect().head
    assert(kf.getLong(4) <= kf.getLong(2))
    graft.CacheScope.release()
  }

  test("ses_forecast: hand-computed recurrence; audio_resample: planted FIR checks") {
    // s1=100; s2=(3*100+200)/4=125; s3=(3*125+40)/4=floor(415/4)=103;
    // forecasts lag the smooth by one step
    assert(Relational.sesScan(Seq(1L -> 100L, 2L -> 200L, 3L -> 40L)) === Seq(
      (1L, 100L, 100L, 100L, 0L),
      (2L, 200L, 125L, 100L, 100L),
      (3L, 40L, 103L, 125L, 85L)))
    assert(Relational.sesScan(Nil) === Nil)
    // constant signal is a fixed point of the half-band FIR
    assert(Multimodal.resampleClip(Array.fill(6)(7)) === Array(7L, 7L, 7L))
    // Nyquist (alternating +/-a) kills to exact zeros past the clamped
    // edge — the EXECUTED anti-aliasing claim
    assert(Multimodal.resampleClip(Array(8, -8, 8, -8, 8, -8)) ===
      Array(4L, 0L, 0L))
    // negative odd numerator pins TRUNCATION toward zero — DuckDB
    // integer `//` truncates too (floor would yield -1)
    assert(Multimodal.resampleClip(Array(-1, 0)) === Array(0L))
    // fixture: n_out == ceil(n_in/2), chk replays per clip via the core
    val ar = Multimodal.audioResample(spark, "/root/testdata/sf0.001").collect()
    assert(ar.nonEmpty)
    ar.foreach { r =>
      assert(r.getLong(2) === (r.getLong(1) + 1L) / 2L)
      assert(r.getLong(4) <= 32768L, "FIR output is bounded by the input range")
    }
    graft.CacheScope.release()
  }

  test("mmr_select: full greedy replay from raw fixture embeddings") {
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray)
      .toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    val expected = (0L until 10L).flatMap { qid =>
      val pool = vecs.keys.filter(_ != qid).toSeq
        .map(n => n -> dot(vecs(qid), vecs(n)))
        .sortBy { case (n, d) => (-d, n) }.take(8)
      var sel = List.empty[(Long, Long, Long, Long)] // (pick, nid, rel, maxsel)
      for (r <- 1 to 3 if pool.size >= r) {
        val rem = pool.filterNot(p => sel.exists(_._2 == p._1))
        val cand = rem.map { case (n, rel) =>
          val ms = if (sel.isEmpty) 0L
            else sel.map(s => dot(vecs(n), vecs(s._2))).max
          (n, rel, ms)
        }
        val best = cand.minBy { case (n, rel, ms) => (-(rel - ms), n) }
        sel = sel :+ ((r.toLong, best._1, best._2, best._3))
      }
      sel.map { case (pick, nid, rel, ms) => (qid, pick, nid, rel, ms) }
    }.toSet
    val got = Similarity.mmrSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(1), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got === expected, "the DataFrame greedy must equal the independent replay")
    graft.CacheScope.release()
  }

  test("mmr_select: the greedy kernel breaks ties to the lower nid, stops at the pool size, throws on overflow") {
    // round 1: nids 1 and 7 tie on rel 10 -> nid 1. Round 2: nid 5
    // scores 9 - dot([2,0],[1,0]) = 7, nid 4 scores 7 - 0 = 7, nid 7
    // scores 10 - 5 = 5 -> the exact tie at 7 goes to nid 4, though
    // nid 5 has the higher rel. Round 3: nid 5 keeps max_sel_sim 2.
    val pool = Seq(
      (7L, Array(5L, 0L), 10L), (5L, Array(2L, 0L), 9L),
      (1L, Array(1L, 0L), 10L), (4L, Array(0L, 3L), 7L))
    assert(Similarity.mmrPicks(pool, 3) === Seq(
      (1L, 1L, 10L, 0L), (2L, 4L, 7L, 0L), (3L, 5L, 9L, 2L)))
    assert(Similarity.mmrPicks(pool.reverse, 3) === Similarity.mmrPicks(pool, 3),
      "the picks must not depend on the pool's row order")
    // a pool smaller than k gives fewer picks, not an error
    assert(Similarity.mmrPicks(pool.take(2), 3) === Seq((1L, 7L, 10L, 0L), (2L, 5L, 9L, 10L)))
    assert(Similarity.mmrPicks(Nil, 3) === Nil)
    // 2^32 * 2^32 overflows a long: round 2 needs that dot and must throw
    val big = Seq((1L, Array(1L << 32), 100L), (2L, Array(1L << 32), 50L))
    intercept[ArithmeticException](Similarity.mmrPicks(big, 2))
  }

  test("kneser_ney: hand-computed planted corpus") {
    // "a b a b c": bigrams ab:2 ba:1 bc:1, ntypes=3, pcont = 2^20//3
    // = 349525 for each of b/a/c (one continuation each)
    // (a,b): (4*2-3)*2^18//2 + 3*1*349525//(4*2) = 655360 + 131071
    // (b,a)/(b,c): 1*2^18*... = 262144//2 + 3*2*349525//8 = 131072 + 262143
    val out = TextAnalysis.kneserNeyOf(docs(1L -> "a b a b c")).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    assert(out(("a", "b")) === ((2L, 2L, 1L, 1L, 349525L, 786431L)))
    assert(out(("b", "a")) === ((1L, 2L, 2L, 1L, 349525L, 393215L)))
    assert(out(("b", "c")) === ((1L, 2L, 2L, 1L, 349525L, 393215L)))
    assert(out.size === 3)
    graft.CacheScope.release()
  }

  test("coreset_kcenter: full greedy replay; interval_coverage reconciles with the merge") {
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray)
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    var centers = List(vecs.keys.min)
    var expected = List((1L, centers.head, 0L))
    for (r <- 2 to 5) {
      val far = vecs.keys.filterNot(centers.contains).map { v =>
        v -> centers.map(c => d2(vecs(v), vecs(c))).min
      }.minBy { case (v, d) => (-d, v) }
      centers = centers :+ far._1
      expected = expected :+ ((r.toLong, far._1, far._2))
    }
    val got = Similarity.coresetKcenter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList.sortBy(_._1)
    assert(got === expected, "farthest-point traversal must equal the independent replay")
    // cover radius is non-increasing from pick 2 on (min over a
    // growing center set, argmax of a pointwise-smaller function)
    got.drop(1).sliding(2).foreach {
      case Seq(a, b) => assert(b._3 <= a._3)
      case _         => () // trailing window shorter than 2 — nothing to compare
    }
    // interval_coverage: reconciles per user against the merge output
    val merged = Relational.intervalMerge(spark, sf).collect()
      .groupBy(_.getLong(0))
    Relational.intervalCoverage(spark, sf).collect().foreach { r =>
      val (u, ni, cov, span, cq) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val m = merged(u)
      assert(ni === m.length.toLong)
      assert(cov === m.map(x => x.getLong(2) - x.getLong(1)).sum)
      assert(span === m.map(_.getLong(2)).max - m.map(_.getLong(1)).min)
      assert(cov <= span && cq === cov * 1048576L / span && cq <= 1048576L)
    }
    graft.CacheScope.release()
  }

  test("lm_surprisal: hand-computed planted bits; char_profile reconciles with raw counts") {
    // "aaaa" -> trigrams aaa,aaa; "abcd" -> abc,bcd; N=4
    // c(aaa)=2 -> x=2 -> 1 bit; c(abc)=c(bcd)=1 -> x=4 -> 2 bits
    val out = TextAnalysis.lmSurprisalOf(spark, docs(1L -> "aaaa", 2L -> "abcd"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) === ((2L, 2L, 1L, 1048576L)))
    assert(out(2L) === ((2L, 4L, 2L, 2097152L)))
    // char_profile: per-source totals equal a direct Scala recount
    val sf = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source", "text").collect()
      .groupBy(_.getString(0)).map { case (s, rows) =>
        val texts = rows.map(_.getString(1))
        (s, (texts.map(_.length.toLong).sum,
          texts.map(_.count(c => c.isLetter && c < 128)).map(_.toLong).sum,
          texts.map(_.count(c => c >= '0' && c <= '9')).map(_.toLong).sum,
          texts.map(_.count(_ == ' ')).map(_.toLong).sum))
      }
    TextAnalysis.charProfile(spark, sf).collect().foreach { r =>
      val (n, a, d, sp) = raw(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) === ((n, a, d, sp)))
      assert(r.getLong(5) === n - a - d - sp, "punct is the exact complement")
      assert(r.getLong(6) === a * 1048576L / math.max(n, 1L))
    }
    graft.CacheScope.release()
  }

  test("rendezvous_shard: minimal-disruption executed; mrl_truncate: full replay") {
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    // the DEFINING rendezvous property: removing shard 7 remaps ONLY
    // the docs shard 7 owned — every other assignment is unchanged
    val o8 = Corpus.rendezvousOwner(d, 8).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val o7 = Corpus.rendezvousOwner(d, 7).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(o8.nonEmpty && o8.values.exists(_ == 7L), "shard 7 owns something")
    o8.foreach { case (doc, s) =>
      if (s != 7L) assert(o7(doc) === s, s"doc $doc must not remap when shard 7 leaves")
    }
    // the rollup partitions the corpus
    val rs = Corpus.rendezvousShard(spark, sf).collect()
    assert(rs.map(_.getLong(1)).sum === d.count())
    // mrl_truncate: independent Scala replay of both rankings
    val vecs = d.sparkSession.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong).toArray)
      .toMap
    def topk(qid: Long, dims: Int): Set[Long] =
      vecs.keys.filter(_ != qid).toSeq
        .map(n => n -> (0 until dims).map(i => vecs(qid)(i) * vecs(n)(i)).sum)
        .sortBy { case (n, dot) => (-dot, n) }.take(5).map(_._1).toSet
    val got = Similarity.mrlTruncate(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    (0L until 10L).foreach { qid =>
      val f = topk(qid, 64); val p = topk(qid, 16)
      val ov = f.intersect(p).size.toLong
      assert(got(qid) === ((f.size.toLong, ov, ov * 1048576L / f.size)),
        s"query $qid overlap must equal the replay")
    }
    graft.CacheScope.release()
  }

  test("surprisal_buckets / encoding_advisor invariants") {
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    // buckets partition the scoreable corpus (len >= 3 docs); within a
    // source, shares sum to 2^20 minus truncation dust (< |buckets|)
    val sb = TextAnalysis.surprisalBuckets(spark, sf).collect()
    val scoreable = d.filter("length(text) >= 3").count()
    assert(sb.map(_.getLong(2)).sum === scoreable)
    sb.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val s = rows.map(_.getLong(3)).sum
      assert(s <= 1048576L && 1048576L - s < rows.length.toLong,
        "in-source shares must sum to 2^20 minus dust")
    }
    // encoding_advisor: one column recounted directly; the advice CASE
    // replays from the emitted (n, ndv)
    val ea = Relational.encodingAdvisor(spark, sf).collect()
    val st = ea.find(r => r.getString(0) == "orders" &&
      r.getString(2) == "o_orderstatus").get
    val o = spark.read.parquet(s"$sf/orders.parquet")
    assert(st.getLong(1) === o.count())
    assert(st.getLong(3) === o.select("o_orderstatus").distinct().count())
    ea.foreach { r =>
      val (n, ndv) = (r.getLong(1), r.getLong(3))
      val expect = if (ndv <= 100L) "dict-rle"
        else if (ndv * 100L <= n) "dict" else "plain"
      assert(r.getString(5) === expect)
    }
    graft.CacheScope.release()
  }

  test("ref_integrity reconciles against direct anti-joins; cuped_adjust replays in BigInt") {
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val cu = spark.read.parquet(s"$sf/customer.parquet")
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val ri = Relational.refIntegrity(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(ri("lineitem_orders")._1 === li.count())
    assert(ri("lineitem_orders")._2 === 0L, "TPC-H lineitem keys are consistent")
    val evOrphans = ev.selectExpr("user_id as k")
      .join(cu.selectExpr("c_custkey as k").distinct(), Seq("k"), "left_anti").count()
    assert(ri("events_customer") ===
      ((ev.count(), evOrphans, evOrphans * 1048576L / math.max(ev.count(), 1L))))
    // cuped_adjust: θ and both deltas replayed from a direct per-user
    // (pre, post) recompute in exact BigInt
    val mid = {
      val b = ev.selectExpr("min(unix_micros(cast(ts as timestamp)))",
        "max(unix_micros(cast(ts as timestamp)))").head()
      (b.getLong(0) + b.getLong(1)) / 2L
    }
    val per = ev.filter("event_type = 'purchase'")
      .selectExpr("user_id", "unix_micros(cast(ts as timestamp)) as us",
        "cast(floor(value * 100 + 0.5) as bigint) as cents").collect()
      .groupBy(_.getLong(0)).map { case (u, rows) =>
        val x = rows.filter(_.getLong(1) <= mid).map(_.getLong(2)).sum
        val y = rows.filter(_.getLong(1) > mid).map(_.getLong(2)).sum
        val arm = if ((u % 2147483648L) * 2654435761L % 4294967296L < 2147483648L) "A" else "B"
        (arm, BigInt(x), BigInt(y))
      }.toSeq
    val n = BigInt(per.size)
    val (sx, sy) = (per.map(_._2).sum, per.map(_._3).sum)
    val sxy = per.map(p => p._2 * p._3).sum
    val sxx = per.map(p => p._2 * p._2).sum
    def arm(a: String) = per.filter(_._1 == a)
    val (na, nb) = (BigInt(arm("A").size), BigInt(arm("B").size))
    val (sxa, sya) = (arm("A").map(_._2).sum, arm("A").map(_._3).sum)
    val (sxb, syb) = (arm("B").map(_._2).sum, arm("B").map(_._3).sum)
    val q = BigInt(1048576)
    def g(x: BigInt) = x max BigInt(1)
    val theta = (n * sxy - sx * sy) * q / g(n * sxx - sx * sx)
    val mya = sya * q / g(na); val myb = syb * q / g(nb)
    val mxa = sxa * q / g(na); val mxb = sxb * q / g(nb)
    val r = Relational.cupedAdjust(spark, sf).collect().head
    assert(r.getLong(0) === n.toLong)
    assert(r.getLong(1) === theta.toLong)
    assert(r.getLong(2) === mya.toLong && r.getLong(3) === myb.toLong)
    assert(r.getLong(4) === (mya - myb).toLong)
    assert(r.getLong(5) === (mya - myb - theta * (mxa - mxb) / q).toLong)
    graft.CacheScope.release()
  }

  test("source_cap: planted over-cap corpus hand-checked; fixture is cap-free") {
    // N=100, cap=30: a(70) clips to 30, freed=40, under mass u=30;
    // add_b = 40*20//30 = 26, add_c = 40*10//30 = 13 (dust 1 stays
    // unallocated — single-round contract)
    val planted = Seq(("a", 70L), ("b", 20L), ("c", 10L)).toDF("source", "n_tokens")
    val out = Corpus.sourceCapOf(planted).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out("a") === ((70L, 30L, 30L, 30L * 1048576L / 100L)))
    assert(out("b") === ((20L, 20L, 46L, 46L * 1048576L / 100L)))
    assert(out("c") === ((10L, 10L, 23L, 23L * 1048576L / 100L)))
    assert(out.values.map(_._3).sum <= 100L, "never allocates more than the budget")
    // all-over-cap corpus: freed mass has no receiver and stays unallocated
    val allOver = Corpus.sourceCapOf(
      Seq(("x", 50L), ("y", 50L)).toDF("source", "n_tokens")).collect()
    allOver.foreach(r => assert(r.getLong(3) === 30L, "everyone sits at the cap floor"))
    // fixture: ~20 balanced sources — the cap never binds, final == raw
    Corpus.sourceCap(spark, "/root/testdata/sf0.001").collect().foreach { r =>
      assert(r.getLong(3) === r.getLong(1), "cap-free corpus passes through")
    }
    graft.CacheScope.release()
  }

  test("embargo_split: the gap theorem and stream partition execute") {
    val sf = "/root/testdata/sf0.001"
    val es = Relational.embargoSplit(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val ev = spark.read.parquet(s"$sf/events.parquet")
    assert(es.values.map(_._1).sum === ev.count(), "zones partition the stream")
    // the defining purge property: val opens strictly more than the
    // 7-day embargo after train closes
    assert(es("val")._3 - es("train")._4 > 7L,
      "min(val.day) - max(train.day) must exceed the embargo")
    // zone day-ranges are disjoint and ordered (embargo may be empty)
    assert(es.get("embargo").forall(e => es("train")._4 < e._3))
    graft.CacheScope.release()
  }

  test("cdc_chunks: chunks reassemble the text; prefix insertion only disturbs the head") {
    val sf = "/root/testdata/sf0.001"
    // a long planted text (fixture docs concatenated) with many boundaries
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("text").limit(6).collect().map(_.getString(0)).mkString(" ")
    def chunksOf(id: Long, t: String): Seq[String] =
      Dedup.cdcChunksOf(Seq((id, t)).toDF("doc_id", "text"))
        .orderBy("idx").collect().map(_.getString(2)).toSeq
    val c0 = chunksOf(1L, base)
    assert(c0.size >= 3, "planted text must carry several boundaries")
    assert(c0.mkString("") === base, "chunks partition the text exactly")
    // CDC locality: a 1-char PREFIX insertion shifts every 8-gram by
    // one, so the boundary SET shifts with it — every chunk after the
    // first is unchanged (fixed-width blocking would reshift them all)
    val c1 = chunksOf(2L, "q" + base)
    assert(c1.mkString("") === "q" + base)
    // every boundary shifts with the text; the only new freedom is ONE
    // possible extra boundary inside the 8-char head window, so the
    // tail matches after dropping 1 or 2 head chunks
    assert(Seq(1, 2).exists(k => c1.drop(k) == c0.drop(1)),
      "all chunks after the head survive the insertion")
    // registered rollup: n_chunks/shared reconcile per doc
    val out = Dedup.cdcChunks(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.length.toLong === nDocs)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), "shared chunks are a subset")
      assert(r.getLong(4) === r.getLong(3) * 1048576L / math.max(r.getLong(1), 1L))
    }
    graft.CacheScope.release()
  }

  test("token_budget_plan: Hamilton apportionment hand-checked; exact-sum on the fixture") {
    def planted(b: Long, rows: (String, Long)*) =
      Corpus.tokenBudgetOf(rows.toDF("source", "n_tokens"), b).collect()
        .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // quotas 1.4 / 2.1 / 3.5 of B=7: bases 1/2/3 (sum 6), the one
    // leftover goes to the largest remainder (c, rem 5)
    val p = planted(7L, ("a", 2L), ("b", 3L), ("c", 5L))
    assert(p("a") === ((1L, 0L, 1L)))
    assert(p("b") === ((2L, 0L, 2L)))
    assert(p("c") === ((3L, 1L, 4L)))
    // remainder TIES break by source asc: equal masses, one leftover
    val q = planted(10L, ("a", 1L), ("b", 1L), ("c", 1L))
    assert(q("a") === ((3L, 1L, 4L)) && q("b") === ((3L, 0L, 3L)) && q("c") === ((3L, 0L, 3L)))
    // the exact-sum guarantee and the quota bound, on the fixture
    val out = Corpus.tokenBudgetPlan(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getLong(4)).sum === 1000000L, "allocations sum to the budget EXACTLY")
    out.foreach(r => assert(r.getLong(3) === 0L || r.getLong(3) === 1L))
    graft.CacheScope.release()
  }

  test("cramers_v / dp_histogram invariants") {
    val sf = "/root/testdata/sf0.001"
    // cramers_v derives from the SAME chi2 stat: v2_q == chi2_q div (n*k),
    // df/n match chi2_independence exactly, effect bucket is the exact
    // integer comparison chain
    val chi = Relational.chi2Independence(spark, sf).collect().head
    val cv = Relational.cramersV(spark, sf).collect().head
    assert(cv.getLong(0) === chi.getLong(0), "same N")
    assert(cv.getLong(1) === chi.getLong(1), "same df")
    assert(cv.getLong(3) === chi.getLong(2), "same chi2_q")
    val (n, k, v2) = (cv.getLong(0), cv.getLong(2), cv.getLong(4))
    assert(v2 === cv.getLong(3) / (n * k))
    val expected =
      if (v2 * 100 < 1048576L) "negligible"
      else if (v2 * 100 < 9L * 1048576L) "small"
      else if (v2 * 4 < 1048576L) "medium" else "large"
    assert(cv.getString(5) === expected)
    // dp_histogram: noise replays from the md5 coin, |noise| <= 8 (the
    // 8-hex-digit slice bounds the run), released = true + noise
    val dp = Relational.dpHistogram(spark, sf).collect()
    assert(dp.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    dp.foreach { r =>
      val (nation, nTrue, noise, rel, err) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val hex = md.digest(s"dpnoise$nation".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val mag = hex.take(8).takeWhile(_ == '0').length.toLong
      val sign = if ("89abcdef".contains(hex(8))) -1L else 1L
      assert(noise === sign * mag, s"nation $nation coin replays")
      assert(math.abs(noise) <= 8L && err === math.abs(noise))
      assert(rel === nTrue + noise)
    }
    graft.CacheScope.release()
  }
}
