package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Quality/equivalence specs that complement the DuckDB oracle gate:
  * recall floors vs exact ground truth (simhash, LSH, IVF), bit-
  * identity of imperative aggregates vs their declarative forms,
  * partition stability, stub-decoder plumbing, estimate envelopes.
  * All inputs are the deterministic fixtures, so assertions are exact.
  */
class PipelineOpsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("simhash finds token-level near-dups without flooding false positives") {
    val exact = Dedup.dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.dedupSimhash(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // hamming<=3 is the precision-side operating point (see scaladoc):
    // recall vs shingle-Jaccard truth is ~0.6 by construction of the
    // corpus — assert the measured floor, and that output stays tight.
    val recall = exact.intersect(sim).size.toDouble / exact.size
    assert(recall >= 0.55, s"simhash recall $recall over ${exact.size} exact pairs")
    assert(sim.size <= exact.size * 2, s"simhash pairs ${sim.size} vs exact ${exact.size}")
  }

  test("simhash is stable across partitioning") {
    val a = Dedup.simhashes(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val b = Dedup.simhashes(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("hot-shingle guard is a no-op on the fixture (headroom proved)") {
    import org.apache.spark.sql.functions._
    // measured over the PRODUCTION shingle universe, so a tokenize or
    // shingle-length change keeps this proof pointed at the guard
    // dedupNgramJaccard actually applies
    val maxDf = Dedup.docShingles(spark, dir)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(max("df")).collect()(0).getLong(0)
    assert(maxDf <= Dedup.MaxShingleDf / 5,
      s"fixture max shingle DF $maxDf too close to cap ${Dedup.MaxShingleDf}")
  }

  test("minhash banding + exact verify equals the exact ngram result") {
    val exact = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), math.rint(r.getDouble(2) * 1e9))).toMap
    val mh = Dedup.dedupMinhash(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), math.rint(r.getDouble(2) * 1e9))).toMap
    assert(exact.nonEmpty)
    assert(mh === exact)
  }

  test("dedup_substring flags planted near-dup docs as span-duplicated") {
    val nearDup = Dedup.dedupNgramJaccard(spark, dir).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(nearDup.nonEmpty)
    val rows = Dedup.dedupSubstring(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    rows.foreach { case (id, nSpans, nDup, ratio) =>
      assert(nDup >= 0L && nDup <= nSpans, s"doc $id counts")
      assert(math.abs(ratio - nDup.toDouble / nSpans) < 1e-12, s"doc $id ratio")
    }
    val byDoc = rows.map(r => r._1 -> r._4).toMap
    // a doc that is a 0.8-Jaccard near-dup of another shares almost
    // all its 5-word spans with it — span-level dup must see that
    nearDup.foreach { id =>
      assert(byDoc(id) > 0.5, s"near-dup doc $id has span dup_ratio ${byDoc(id)}")
    }
  }

  test("dedup_keep keeps exactly one representative per cluster and all singletons") {
    val keep = Dedup.dedupKeep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val clusters = Dedup.dedupCluster(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val nDocs = graft.sources.Tables.documents(spark, dir).count()
    assert(keep.length.toLong === nDocs, "manifest covers the whole corpus")
    keep.foreach { case (id, cid, k) =>
      clusters.get(id) match {
        case Some(c) => assert(cid === c && k === (if (id == c) 1L else 0L), s"doc $id")
        case None    => assert(cid === id && k === 1L, s"singleton $id")
      }
    }
    val kept = keep.filter(_._3 == 1L).map(_._1).toSet
    // exactly one kept member per near-dup cluster: its min-id label
    clusters.values.toSet.foreach { (c: Long) => assert(kept.contains(c)) }
    assert(kept.size.toLong === nDocs - clusters.size + clusters.values.toSet.size)
  }

  test("LSH-bucketed embedding dedup equals all-pairs exact, no BNLJ") {
    val exact = Dedup.dedupEmbeddingExact(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), math.rint(r.getDouble(2) * 1e4))).toMap
    val lsh = Dedup.dedupEmbedding(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), math.rint(r.getDouble(2) * 1e4))).toMap
    assert(exact.nonEmpty)
    assert(lsh === exact)
    val plan = Dedup.dedupEmbedding(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan has BNLJ:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan has cartesian:\n$plan")
  }

  test("MinhashSigAgg is bit-identical to the declarative 64-column form") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.xxhash64Seeded
    val sh = Dedup.docShingles(spark, dir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h0"))
    val aggs = (0 until 64).map(i => min(xxhash64Seeded(0x9E3779B9L + i, col("h0"))).as(s"h$i"))
    val declarative = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until 64).map(i => col(s"h$i")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val imperative = Dedup.minhashSketch(spark, dir).select("doc_id", "sig")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(imperative === declarative)
  }

  test("minhash signature estimates jaccard for a planted near-dup pair") {
    val sigs = Dedup.minhashSketch(spark, dir).select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exact = Dedup.dedupNgramJaccard(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(exact.nonEmpty)
    exact.foreach { case ((a, b), j) =>
      val (sa, sb) = (sigs(a), sigs(b))
      val est = sa.zip(sb).count { case (x, y) => x == y } / 64.0
      assert(math.abs(est - j) < 0.25, s"pair ($a,$b): est $est vs exact $j")
    }
  }

  test("ann_lsh results are a subset of brute-force candidates with decent recall") {
    val brute = Similarity.annTopkBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.annLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(brute.size === 50) // 10 queries x top-5
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    // 16 tables x 6-bit keys at cos~0.4-0.5 neighbors: expect >~0.5
    assert(recall >= 0.4, s"LSH recall $recall")
    info(s"ann_lsh recall@5 vs brute force: $recall (${lsh.size} pairs)")
  }

  // every SF the correctness sweep runs at — the r8-verdict top item
  // was precisely that these floors used to execute only at sf0.001
  // while the documented numbers sagged below them at sf0.1
  private val allSfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  test("ann_graph beam search: recall ≥ 0.8 at EVERY swept SF; degree bounded") {
    allSfDirs.foreach { d =>
      val brute = Similarity.annTopkBrute(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val graph = Similarity.annGraph(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = brute.intersect(graph).size.toDouble / brute.size
      // measured 1.0 / 1.0 / 0.96 across the three SFs at the
      // M=16 B=48 hops=4 rounds=1 operating point (r15 descent-round
      // A/B: one round is cheaper AND better-navigable than two);
      // 0.8 leaves drift margin
      assert(recall >= 0.8, s"graph-ANN recall $recall at $d")
      info(s"ann_graph recall@5 vs brute force at $d: $recall")
    }
    // the NN-descent graph honors its degree bound (state linear in n)
    val maxDeg = Similarity.neighborGraph(spark, dir)
      .groupBy("src").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxDeg <= Similarity.GraphDeg.toLong,
      s"graph out-degree $maxDeg exceeds the bound")
    graft.CacheScope.release(blocking = true)
  }

  test("ann_ivf probes its cells deterministically; recall ≥ 0.7 at EVERY swept SF") {
    val ivf1 = Similarity.annIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ivf2 = Similarity.annIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ivf1.sorted.sameElements(ivf2.sorted), "IVF must be deterministic")
    allSfDirs.foreach { d =>
      val brute = Similarity.annTopkBrute(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val ivf = Similarity.annIvf(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = brute.intersect(ivf).size.toDouble / brute.size
      assert(recall >= 0.7, s"IVF recall $recall at $d")
      info(s"ann_ivf recall@5 vs brute force at $d: $recall")
    }
    // the probe dial is monotone: fewer probed cells can't see more
    val brute = Similarity.annTopkBrute(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val full = brute.intersect(ivf1.map(t => (t._1, t._3)).toSet).size
    val ivfNarrow = Similarity.annIvfProbe(spark, dir, 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(brute.intersect(ivfNarrow).size <= full, "nprobe=2 recall beat the full probe")
  }

  test("ann_pq: trained ADC + shortlist + exact rerank; recall ≥ 0.9 at EVERY swept SF") {
    val pq1 = Similarity.annPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pq2 = Similarity.annPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pq1.sorted.sameElements(pq2.sorted), "PQ must be deterministic")
    allSfDirs.foreach { d =>
      // unit-norm fixture ⇒ L2 and cosine rank identically, so the
      // cosine brute force IS the PQ ground truth
      val brute = Similarity.annTopkBrute(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val pq = Similarity.annPq(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = brute.intersect(pq).size.toDouble / brute.size
      assert(recall >= 0.9, s"PQ recall $recall at $d")
      info(s"ann_pq recall@5 vs brute force at $d: $recall")
    }
  }

  test("ann_ivfpq: coarse probe + ADC + rerank holds recall ≥ 0.7 at EVERY swept SF") {
    allSfDirs.foreach { d =>
      val brute = Similarity.annTopkBrute(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val got = Similarity.annIvfPq(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = brute.intersect(got).size.toDouble / brute.size
      assert(recall >= 0.7, s"IVF-PQ recall $recall at $d")
      // composition sanity: pruning can only narrow the probe-limited
      // IVF view, and ADC+rerank inside the probed cells is
      // near-exact, so IVF-PQ must sit within one hit of plain IVF
      val ivf = Similarity.annIvf(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val ivfRecall = brute.intersect(ivf).size.toDouble / brute.size
      assert(recall >= ivfRecall - 0.04, s"IVF-PQ lost more than the probe at $d")
      info(s"ann_ivfpq recall@5 at $d: $recall (ivf $ivfRecall)")
    }
  }

  test("ann_index: stored-index search equals in-query ann_ivfpq bit-for-bit") {
    val direct = Similarity.annIvfPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val viaIndex = Similarity.annIndex(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(viaIndex.nonEmpty)
    assert(viaIndex.sameElements(direct),
      "persisted round trip diverged from the in-query composition")
  }

  test("ann_index batch search: 1000 queries stay relational with recall ≥ 0.7 (r9 item)") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine_sim
    val d01 = "/root/testdata/sf0.1" // 2000 vectors — the largest fixture
    val nQ = 1000L
    val root = Similarity.annIndexBuild(spark, d01)
    val res = Similarity.annIndexSearchN(spark, d01, root, nQ)
    // the search plan must hold at batch scale: every per-query
    // structure (probe set, ADC tables) is a broadcast RELATION —
    // no driver-materialized tables, no object-code stages, no
    // nested-loop or cartesian fallbacks
    val p = res.queryExecution.executedPlan.toString
    assert(!p.contains("LocalTableScan"), "driver-materialized query tables leaked in")
    assert(!p.contains("SerializeFromObject") && !p.contains("MapPartitions"),
      "object-code stage in the batch search path")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "ADC/probe joins must broadcast")
    val rows = res.collect()
    assert(rows.length === nQ * 5,
      s"expected ${nQ * 5} result rows (1000 queries × top-5), got ${rows.length}")
    // recall over the FULL batch vs exact brute force (2M scored
    // pairs — the brute side is itself a distributed broadcast join)
    val e = graft.sources.Tables.embeddings(spark, d01)
    val q = e.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    val brute = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .join(broadcast(q), col("qid") =!= col("nid"))
      .withColumn("cos", cosine_sim(col("qe"), col("ne")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.intersect(got).size.toDouble / brute.size
    info(s"ann_index 1000-query batch at sf0.1: recall@5 = $recall")
    assert(recall >= 0.7, s"full-batch recall $recall below floor")
  }

  test("png codec round trip is pixel-exact (real ImageIO decode)") {
    val seeds = Seq(
      Array.tabulate(16)(i => (i * 17 + 3).toByte),
      Array.tabulate(16)(i => (255 - i * 9).toByte))
    seeds.foreach { seed =>
      def b(i: Int) = seed(i) & 0xFF
      val w = 4 + b(0) % 16; val h = 4 + b(1) % 16
      val png = Multimodal.encodePng(seed)
      assert(png.length > 0)
      // PNG magic: a real container, not a raw buffer
      assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        assert(((rgb >> 16) & 0xFF) == (x * 7 + y * 13 + b(2)) % 256, s"r at ($x,$y)")
        assert(((rgb >> 8) & 0xFF) == (x * 11 + y * 3 + b(3)) % 256, s"g at ($x,$y)")
        assert((rgb & 0xFF) == (x * 5 + y * 17 + b(4)) % 256, s"b at ($x,$y)")
      }
    }
  }

  test("multimodal decode stub: batch plumbing yields per-doc metadata + features") {
    val rows = Multimodal.mediaTable(spark, dir).collect()
    assert(rows.length === 500)
    assert(rows.forall(_.media_len == 16L))
    assert(rows.forall(m => m.width >= 64 && m.width < 192))
    assert(rows.forall(_.feat.length == 8))
    // deterministic: same doc → same features
    val twice = Multimodal.mediaTable(spark, dir).collect()
    assert(rows.sortBy(_.doc_id).map(_.feat.toSeq).toSeq ===
      twice.sortBy(_.doc_id).map(_.feat.toSeq).toSeq)
  }

  test("multimodal feature aggregation shuffles Array[Float] features correctly") {
    val agg = Multimodal.multimodalFeatAgg(spark, dir).collect()
    assert(agg.nonEmpty)
    val n = agg.map(r => r.getLong(r.fieldIndex("n"))).sum
    assert(n === 500L * 8) // every doc contributes 8 feature positions
  }

  test("KMV sketch estimates distinct counts within its k=64 error envelope") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val est = Relational.aggKmvDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = graft.sources.Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")), countDistinct(col("l_orderkey")))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (flag, (parts, orders)) =>
      // KMV std error ~ 1/sqrt(k-2) ~ 12.7%; gate at 4 sigma
      assert(math.abs(est(flag)._1 - parts) / parts <= 0.5,
        s"$flag parts: est ${est(flag)._1} vs exact $parts")
      assert(math.abs(est(flag)._2 - orders) / orders <= 0.5,
        s"$flag orders: est ${est(flag)._2} vs exact $orders")
    }
  }

  test("approx_count_distinct envelope flags report in-envelope sketches") {
    // the gated query self-reports whether each HLL sketch landed
    // within 2% of exact; the oracle pins the flags to 1, so this
    // spec is the early local warning if an operating point drifts
    val rows = Relational.aggApproxDistinct(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("parts_in_3sig")) === 1L,
        s"${r.getString(0)}: parts sketch out of envelope")
      assert(r.getLong(r.fieldIndex("orders_in_3sig")) === 1L,
        s"${r.getString(0)}: orders sketch out of envelope")
    }
    // and the exact columns agree with the plain distinct query
    val exact = Relational.aggDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_parts")) === exact(r.getString(0)))
    }
  }

  test("cosine_sim/dot_product are callable from SQL after registration") {
    graft.functions.VectorFunctions.registerSql(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0F,2.0F), array(2.0F,3.0F)) AS c, " +
        "dot_product(array(1.0F,2.0F), array(2.0F,3.0F)) AS d").collect()(0)
    assert(r.getDouble(1) === 8.0)
    assert(math.abs(r.getDouble(0) - 8.0 / (math.sqrt(5.0) * math.sqrt(13.0))) < 1e-12)
  }

  test("cosine expression matches a hand-rolled computation") {
    import spark.implicits._
    import graft.functions.VectorFunctions.cosine_sim
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)), // zero norm -> null
      (Array(1.0f), Array(1.0f, 2.0f))        // length mismatch -> null
    ).toDF("a", "b")
    val got = df.select(cosine_sim(col("a"), col("b"))).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val d0 = (4.0 + 10.0 + 18.0) / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(got(0).get === d0)
    assert(got(1).get === 0.0)
    assert(got(2) === None)
    assert(got(3) === None)
  }

  test("int8 quantization: values bounded, round-trip error within half a step") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.embedQuantizeArr(spark, dir)
      .join(graft.sources.Tables.embeddings(spark, dir), "vec_id")
      .select(col("scale"), col("q"), col("embedding"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getDouble(0)
      val q = r.getSeq[Long](1)
      val e = r.getSeq[Float](2)
      assert(q.forall(v => v >= -127L && v <= 127L), "codes within int8 range")
      // |x - q*scale| <= scale/2: the defining bound of round-to-nearest
      q.zip(e).foreach { case (c, x) =>
        assert(math.abs(x.toDouble - c * scale) <= scale / 2 + 1e-12)
      }
    }
    // registered (string) form agrees with the typed form cell-by-cell
    val s = Similarity.embedQuantize(spark, dir)
      .select(col("vec_id"), col("q")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val arr = Similarity.embedQuantizeArr(spark, dir)
      .select(col("vec_id"), col("q")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).mkString(",")).toMap
    assert(s === arr)
  }

  test("class centroids: typed array form and registered string form agree") {
    import org.apache.spark.sql.functions.col
    val typed = Similarity.classCentroidsTyped(spark, dir)
      .select(col("label"), col("n_members"), col("centroid_q")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).mkString(",")))).toMap
    val str = Similarity.classCentroids(spark, dir)
      .select(col("label"), col("n_members"), col("centroid_q")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(typed.nonEmpty, "fixture should contain labeled embeddings")
    assert(str === typed)
    // each centroid is a full 64-dim lattice vector
    typed.values.foreach { case (_, c) => assert(c.split(",").length === 64) }
  }

  // -- the Refine skeleton's contract on planted ties and collisions --

  /** (vec_id, table_idx, table_key, table_keys) bucket rows, as
    * [[Refine.bucketPairs]] takes them: each id's key array holds its
    * key in every table it has a row for, and a null, which equals
    * nothing, in the tables it lacks. */
  private def tagged(rows: (Long, Int, Int)*) = {
    import spark.implicits._
    val nTables = rows.map(_._2).max + 1
    val keys = rows.groupBy(_._1).map { case (id, rs) =>
      id -> (0 until nTables).map(t => rs.collectFirst { case (_, `t`, k) => k }) }
    rows.map { case (id, t, k) => (id, t, k, keys(id)) }
      .toDF("vec_id", "table_idx", "table_key", "table_keys").repartition(4)
  }

  test("Refine.topK: equal cosines rank the lower id first, rank is a long") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine_sim
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("qid", "qe")
    // 7 and 3 carry the same vector, so their cosines to q are equal;
    // 5 is farther away
    val c = Seq((7L, Array(1.0f, 0.5f)), (3L, Array(1.0f, 0.5f)), (5L, Array(0.0f, 1.0f)))
      .toDF("nid", "ne").repartition(4)
    val scored = c.crossJoin(q).withColumn("cos", cosine_sim(col("qe"), col("ne")))
    def kept(k: Int) = Refine.topK(scored, Seq("qid"), Similarity.ByCos, k, "rnk",
        longRank = true)
      .select("rnk", "nid", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val two = kept(2)
    assert(two.map(r => (r._1, r._2)).toSeq === Seq((1L, 3L), (2L, 7L)))
    assert(two(0)._3 === two(1)._3, "planted twins must score equal cosines")
    assert(kept(1).map(_._2).toSeq === Seq(3L))
  }

  test("Refine.bucketPairs: a pair colliding in 3 buckets comes out once") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.col
    // 1 and 2 share tables 0, 1 and 2; 1 and 3 share only table 3
    val t = tagged((1L, 0, 10), (2L, 0, 10), (1L, 1, 11), (2L, 1, 11),
      (1L, 2, 12), (2L, 2, 12), (1L, 3, 13), (2L, 3, 99), (3L, 3, 13))
    def pairs(pred: Option[(Column, Column) => Column]) =
      Refine.bucketPairs(t, t, Similarity.SignBucket, "vec_id", pred)(
          (a, b) => Seq(a.as("a"), b.as("b")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(pairs(Some(_ < _)) === Seq((1L, 2L), (1L, 3L)))
    assert(pairs(Some(_ =!= _)) === Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)))
    val cross = Refine.bucketPairs(t.filter(col("vec_id") === 1L),
        t.filter(col("vec_id") =!= 1L), Similarity.SignBucket, "vec_id", None)(
        (a, b) => Seq(a.as("a"), b.as("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(cross === Seq((1L, 2L), (1L, 3L)))
  }

  test("property: Refine.bucketPairs equals join + distinct, and emits no pair twice") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.col
    import org.scalacheck.{Gen, Prop, Test}
    // 2–10 ids over 1–8 tables with 1–3 keys per table, so most pairs
    // collide in several tables; an id lacks a table's row 1 time in 6
    val keyVectors = for {
      nTables <- Gen.choose(1, 8)
      alphabet <- Gen.choose(1, 3)
      nIds <- Gen.choose(2, 10)
      key = Gen.frequency(5 -> Gen.choose(0, alphabet - 1).map(Option(_)), 1 -> Gen.const(None))
      ks <- Gen.listOfN(nIds, Gen.listOfN(nTables, key))
    } yield ks
    type Row = (Long, Int, Int)
    def reference(xs: Seq[Row], ys: Seq[Row], p: (Long, Long) => Boolean) =
      (for (a <- xs; b <- ys if a._2 == b._2 && a._3 == b._3 && p(a._1, b._1))
        yield (a._1, b._1)).distinct.sorted
    def pairs(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame,
        pred: Option[(Column, Column) => Column]) =
      Refine.bucketPairs(x, y, Similarity.SignBucket, "vec_id", pred)(
          (a, b) => Seq(a.as("a"), b.as("b")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val prop = Prop.forAll(keyVectors) { ks =>
      val rows = for ((v, i) <- ks.zipWithIndex; (k, t) <- v.zipWithIndex; key <- k)
        yield (i.toLong, t, key)
      if (rows.isEmpty) Prop.passed
      else {
        val t = tagged(rows: _*)
        val (even, odd) = rows.partition(_._1 % 2 == 0)
        val checks = Seq(
          "<" -> (pairs(t, t, Some(_ < _)) == reference(rows, rows, _ < _)),
          "=!=" -> (pairs(t, t, Some(_ =!= _)) == reference(rows, rows, _ != _)),
          "two-sided" -> (pairs(t.filter(col("vec_id") % 2 === 0), t.filter(col("vec_id") % 2 =!= 0),
            None) == reference(even, odd, (_, _) => true)))
        checks.foldLeft(Prop.passed) { case (acc, (name, ok)) => acc && (Prop(ok) :| s"$name on $ks") }
      }
    }
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("Refine.ringPairs: at most 2·cap ring partners per vector and table") {
    // table 0: one 10-member bucket; table 1: buckets of 6 and 4
    val ids = 1L to 10L
    val t = tagged(ids.map(i => (i, 0, 7)) ++ ids.map(i => (i, 1, if (i <= 6) 1 else 2)): _*)
    val cap = 2
    val ring = Refine.ringPairs(t, cap, ("src", "dst")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val edges = ring.toSet
    assert(edges.size === ring.length, "a ring pair came out twice in one direction")
    edges.foreach { case (tb, a, b) => assert(edges.contains((tb, b, a)), s"($tb,$a,$b) unpaired") }
    val partners = ring.groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.length }
    assert(partners.values.max === 2 * cap)
    // members ranked by vec_id pair with their neighbours within cap
    // ranks: an interior member of the big bucket reaches all 2·cap
    assert(partners((0, 5L)) === 2 * cap && partners((0, 1L)) === cap)
    edges.foreach { case (_, a, b) => assert(math.abs(a - b) <= cap) }
    // a cap past the bucket size pairs every bucket-mate, as the
    // unbounded bucket self-join does
    val all = Refine.ringPairs(t, 100, ("src", "dst")).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val mates = Refine.bucketPairs(t, t, Similarity.SignBucket, "vec_id", Some(_ =!= _))(
        (a, b) => Seq(a, b))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === mates)
  }
}
