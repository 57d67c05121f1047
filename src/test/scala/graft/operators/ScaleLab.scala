package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, SparkEntry}

/** Dev-side measured SCALING curves for the scale-critical operator
  * families (VERDICT r15 item 1) — `sbt "Test/runMain
  * graft.operators.ScaleLab [gen|counts|floor|time ...]"`.
  *
  * Every 100 TB claim so far is a plan-shape proof at sf0.1. This lab
  * converts it into numbers: it synthesizes ~N× corpora in scratch
  * (`/root/testdata` is read-only) and times each family at 1× vs N×,
  * recording Spark job counts per run so the ratios separate DATA
  * scaling from per-job fixed machinery (VERDICT r15 item 4 — at
  * fixture scale the bench measures AQE stage creation and broadcast
  * builds more than data).
  *
  * Corpus synthesis (deterministic, no RNG): factor-F tables are F
  * id-remapped replicas of the sf0.1 fixture, written once per
  * factor under `/tmp/graft_scalelab/xF` with a `_staged` marker.
  *
  *  - Keys shift by `replica × (max(key)+1)` — replicas are DISJOINT
  *    in id space, join keys stay consistent across tables (orders ⋈
  *    lineitem on the shifted orderkey), so the purchase graph
  *    becomes F disjoint copies: degree distribution preserved,
  *    per-round work must scale ~linearly in F if the operator does.
  *  - `documents.text` gets a per-replica WORD suffix (`w` →
  *    `wqab`, letters only — see the gen comment): a bijection on
  *    the token sequence per replica, so
  *    within-replica Jaccard/edit structure is EXACTLY the original
  *    (same near-dup pairs per replica) while cross-replica shingle
  *    and pigeonhole-segment collisions are ~0 — candidate volume
  *    under a linear-scaling algorithm must grow ~F, and superlinear
  *    growth (the dedup_fuzzy segment-collision caveat, VERDICT r15
  *    item 5) shows up as ratio ≫ F in the `counts` section.
  *  - `embeddings` replicate with vec_id shifts only (bytes
  *    unchanged): the ANN seed window is corpus-relative off
  *    min(vec_id), so the query set stays the replica-0 originals
  *    and build+search cost is measured against an F× corpus.
  *
  * Not shipped; its numbers land in PLANS.md's scaling table. The
  * oracle registry is untouched (lab only).
  */
object ScaleLab {

  private val Root = "/tmp/graft_scalelab"
  private val Base = "/root/testdata/sf0.1"

  /** Part files per staged replicated table. r18 spill-section
    * finding: the original single-file staging collapsed scan
    * parallelism — a 76 MB x100 documents.parquet is ONE split under
    * the 128 MB default, so CPU-heavy scan-stage work (the
    * dedup_substring span build: tokenize + sliding + toSet per doc)
    * ran on ONE of 32 cores and the op's "superlinear 100× wall" was
    * simply serial linear work (wall ≈ Σ task runtime, spill = 0,
    * gc ≈ 0). A real F× corpus is multi-file and never loses scan
    * parallelism, so staging now writes 32 part files per replicated
    * table (= local[32] cores). Curves recorded before r18 used the
    * single-file layout. */
  private val StagedFiles = 32

  /** (family label, registered query names, factors to measure). The
    * doc/embedding tables are tiny at sf0.1 (5k docs / 2k vectors) so
    * their families stretch to 100×; the fact tables (600k lineitem /
    * 100k events) stop at 10×. */
  private val Families: Seq[(String, Seq[String], Seq[Int])] = Seq(
    ("dedup", Seq("dedup_minhash", "dedup_fuzzy"), Seq(1, 10, 100)),
    // batch 2 (r17, VERDICT r16 "What's missing" 1–2): the shingle/
    // prefix-join and bucket-join long tail + the stored-index path.
    // knn_join / phash_dedup / dedup_embedding are Σ bucket² shapes
    // at FIXED key bits — expected superlinear, so 100× runs only as
    // their capped/widened extra configs below (the uncapped x100
    // pair volume is the measured ann_graph-init ENOSPC class).
    ("dedup2", Seq("dedup_semantic", "dedup_substring"), Seq(1, 10, 100)),
    ("sim",    Seq("simjoin_prefix"), Seq(1, 10, 100)),
    // knn_join ships the ring-capped init since r17 (linear) — full
    // sweep; the other two bucket joins are quadratic as registered
    ("knn",    Seq("knn_join"), Seq(1, 10, 100)),
    ("bucket", Seq("phash_dedup", "dedup_embedding"), Seq(1, 10)),
    ("index",  Seq("ann_index", "ann_index_add"), Seq(1, 10, 100)),
    ("ann",   Seq("ann_ivf", "ann_pq", "ann_graph"), Seq(1, 10, 100)),
    ("graph", Seq("pagerank", "bfs_reach", "kcore", "jaccard_neighbors"), Seq(1, 3, 10)),
    // r18: the relational/TPC-H family was the one registry family
    // with no measured scale curve. q9 = the 5-way join through a
    // broadcast dim filter; q18 = HAVING-filtered fact agg joined
    // back to parents + top-100; q21 = EXISTS/NOT-EXISTS (semi+anti
    // self-joins on the fact); the three window ops are the
    // corpus-scale per-key window shapes (running fill / islands /
    // interval merge over events). Facts stop at 10× like graph.
    // r19 (VERDICT r18 item 4): the relational family extends to
    // 100× — the registry's biggest family had the shortest curve.
    // 100× facts are ~60M lineitem / 15M orders rows (~2 GB parquet),
    // well inside the sandbox; the graph family still stops at 10×
    // (its per-round joins hold the whole edge mass, a deliberate
    // separate budget).
    ("relational", Seq("q9", "q18", "q21", "forward_fill",
      "gaps_islands", "interval_merge"), Seq(1, 3, 10, 100)),
    ("sort",  Seq("sort_export"), Seq(1, 3, 10)),
    ("text",  Seq("bpe_train", "trigram_lm", "doc_quality_ensemble"), Seq(1, 10, 100)),
    // streaming drains (r17 late addition): AvailableNow file-source
    // streams with watermarked state — the question at scale is the
    // state store (dedup keys / join buffers at 8 pinned state
    // partitions), not the plan. The scratch EPOCH flips per (f, rep)
    // so every measurement is a genuine cold drain (the idempotence
    // contract otherwise makes rep 2 a zero-file no-op). LAST in the
    // list: the ops' 180 s drain guard can trip at 100× and a trip
    // must not cost the other families their rows.
    // r18 widens the family (VERDICT r17 missing 2): stream_sink
    // shares the reader the r17 directory-layout bug lived in — the
    // staged x10/x100 corpora are directory-layout parquet, so its
    // rows are that fix's standing regression test; stream_merge /
    // stream_window_counts / stream_join_outer cover the sink, agg,
    // and outer-join state-store shapes.
    ("stream", Seq("stream_dedup", "stream_join", "stream_sink",
      "stream_merge", "stream_window_counts", "stream_join_outer"), Seq(1, 10, 100)))

  /** Extra timed configurations — the SCALE-DIAL settings of batch-2
    * ops (each family's registered op runs uncapped above; these are
    * the linear-regime dials whose curves license recommending them)
    * keyed by the family that must be active for them to run. */
  private def extraConfigs(spark: SparkSession, dirFor: Int => String)
      : Seq[(String, String, Seq[Int], Int => Unit)] = Seq(
    ("ann", "ann_graph_inf", Seq(1, 10),
      f => { Similarity.annGraphBeam(spark, dirFor(f),
        initPairCap = Int.MaxValue).count(); () }),
    ("knn", "knn_join_inf", Seq(1, 10),
      f => { Similarity.knnJoinCapped(spark, dirFor(f), Int.MaxValue).count(); () }),
    ("bucket", "phash_k3b4", Seq(1, 10),
      f => { Multimodal.phashDedupBanded(spark, dirFor(f), 3, 4).count(); () }),
    ("dedup2", "dedup_semantic_nx", Seq(1, 10, 100),
      f => { Dedup.dedupSemanticCells(spark, dirFor(f),
        Similarity.NCells * f).count(); () }))

  private def factorsNeeded: Seq[Int] =
    Families.flatMap(_._3).distinct.filter(_ > 1).sorted

  def main(args: Array[String]): Unit = {
    val sections: Set[String] =
      if (args.isEmpty) Set("gen", "counts", "counts2", "floor", "time", "knncap", "phashdup")
      else args.toSet
    // SCALELAB_SHUFFLE tests the partition-count hypothesis: the
    // fixture bench pins 32 partitions (sized for sf0.1); at 100×
    // data the per-partition sort/spill grows superlinearly, which a
    // real cluster absorbs by scaling partitions with data
    // SCALELAB_CORES shrinks the executor axis (r19, VERDICT r18
    // item 6: the stream family's 8-core behavior at 100× — the
    // driver bench already proves the 8-core axis at sf0.1; this
    // carries it to the staged corpora). Default unchanged.
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SCALELAB_CORES", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SCALELAB_SHUFFLE", "32"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger()
    val stages = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    })

    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      CacheScope.release(blocking = true)
      // shuffle files are dropped by the ContextCleaner only when
      // their ShuffleDependency is GC'd — with a 48g heap GC may
      // never fire across the sweep, so a 100× op's shuffle files
      // (tens of GB for dedup_fuzzy's 314M-row distinct) stay on
      // disk under EVERY later op. Measured: the ann_graph x100 run
      // died ENOSPC under the accumulated files. Nudge the cleaner.
      System.gc()
      Thread.sleep(500)
    }

    /** dir for factor f — factor 1 is the fixture itself. */
    def dirFor(f: Int): String = if (f == 1) Base else s"$Root/x$f"

    // ───────────────────────────── gen ─────────────────────────────
    if (sections("gen")) factorsNeeded.foreach { f =>
      val out = dirFor(f)
      val staged = new java.io.File(s"$out/_staged")
      if (staged.exists) println(s"SCALELAB gen x$f: already staged")
      else {
        val t0 = System.nanoTime()
        def reps(df: DataFrame): DataFrame =
          df.crossJoin(spark.range(f).toDF("rep"))

        def shifted(df: DataFrame, keys: Seq[String], strides: Map[String, Long],
            extra: Seq[(String, org.apache.spark.sql.Column)] = Nil): DataFrame = {
          val remapped = keys.foldLeft(reps(df)) { (d, k) =>
            d.withColumn(k, col(k) + col("rep") * strides(k))
          }
          extra.foldLeft(remapped) { case (d, (c, e)) => d.withColumn(c, e) }
            .drop("rep").select(df.columns.map(col): _*)
        }
        def strideOf(df: DataFrame, keys: String*): Map[String, Long] =
          keys.map(k => k ->
            (df.agg(max(col(k))).head().getLong(0) + 1L)).toMap

        val docs = spark.read.parquet(s"$Base/documents.parquet")
        val emb = spark.read.parquet(s"$Base/embeddings.parquet")
        val ord = spark.read.parquet(s"$Base/orders.parquet")
        val li = spark.read.parquet(s"$Base/lineitem.parquet")
        val ev = spark.read.parquet(s"$Base/events.parquet")

        // documents: per-replica word suffix — replica 0 stays the
        // verbatim original so corpus-relative anchors (min ids, the
        // ANN seed window) keep their 1× meaning. The suffix is
        // LETTERS ONLY, appended with no separator ("batch" →
        // "batchqba"): the engine tokenizer splits on [^a-z0-9]+, so
        // a separator-or-digit suffix would mint extra tokens and
        // DEGRADE trigram shingles to ~bigrams (measured: minhash
        // candidates inflated 400× within replicas on the first cut
        // of this lab). Letters keep the remap a BIJECTION on the
        // token sequence — within-replica Jaccard/edit structure is
        // exactly the original, cross-replica token spaces disjoint.
        val sfx = when(col("rep") === 0, lit("")).otherwise(concat(lit("q"),
          expr("char(97 + CAST(rep / 26 AS INT) % 26)"),
          expr("char(97 + rep % 26)")))
        val suffixed = when(col("rep") === 0, col("text")).otherwise(
          array_join(transform(split(col("text"), " "),
            w => concat(w, col("sfx"))), " "))
        shifted(docs.withColumn("sfx", lit("")), Seq("doc_id"), strideOf(docs, "doc_id"),
          extra = Seq("sfx" -> sfx, "text" -> suffixed,
            "n_chars" -> length(col("text")).cast("long")))
          .drop("sfx")
          .repartition(StagedFiles)
          .write.mode("overwrite").parquet(s"$out/documents.parquet")

        shifted(emb, Seq("vec_id"), strideOf(emb, "vec_id"))
          .repartition(StagedFiles)
          .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

        // r18 relational family: customer/supplier/part replicate WITH
        // the facts, on strides SHARED between fact FK and dim PK (max
        // over both sides — a fact-only stride would orphan replica-k
        // foreign keys and silently shrink every dim join to replica
        // 0, making the q* curves measure scan growth, not join/agg
        // growth). nation/region stay unreplicated: they are genuinely
        // constant-cardinality dimensions at any corpus size (TPC-H
        // fixes them at 25/5 rows), and s_nationkey/c_nationkey are
        // not shifted, so every replica's rows still resolve.
        val cust = spark.read.parquet(s"$Base/customer.parquet")
        val supp = spark.read.parquet(s"$Base/supplier.parquet")
        val prt = spark.read.parquet(s"$Base/part.parquet")
        def maxKey(df: DataFrame, k: String): Long =
          df.agg(max(col(k))).head().getLong(0)
        val custStride = math.max(maxKey(ord, "o_custkey"), maxKey(cust, "c_custkey")) + 1L
        val suppStride = math.max(maxKey(li, "l_suppkey"), maxKey(supp, "s_suppkey")) + 1L
        val partStride = math.max(maxKey(li, "l_partkey"), maxKey(prt, "p_partkey")) + 1L
        val ordKeyStride = strideOf(ord, "o_orderkey")
        shifted(ord, Seq("o_orderkey", "o_custkey"),
            ordKeyStride + ("o_custkey" -> custStride))
          .repartition(StagedFiles)
          .write.mode("overwrite").parquet(s"$out/orders.parquet")
        shifted(li, Seq("l_orderkey", "l_suppkey", "l_partkey"),
            Map("l_orderkey" -> ordKeyStride("o_orderkey"),
              "l_suppkey" -> suppStride, "l_partkey" -> partStride))
          .repartition(StagedFiles)
          .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
        shifted(cust, Seq("c_custkey"), Map("c_custkey" -> custStride))
          .repartition(StagedFiles)
          .write.mode("overwrite").parquet(s"$out/customer.parquet")
        shifted(supp, Seq("s_suppkey"), Map("s_suppkey" -> suppStride))
          .repartition(StagedFiles)
          .write.mode("overwrite").parquet(s"$out/supplier.parquet")
        shifted(prt, Seq("p_partkey"), Map("p_partkey" -> partStride))
          .repartition(StagedFiles)
          .write.mode("overwrite").parquet(s"$out/part.parquet")
        shifted(ev, Seq("event_id", "user_id"), strideOf(ev, "event_id", "user_id"))
          .repartition(StagedFiles)
          .write.mode("overwrite").parquet(s"$out/events.parquet")

        // constant-cardinality dimensions ride along unreplicated
        for (t <- Seq("region", "nation"))
          spark.read.parquet(s"$Base/$t.parquet")
            .write.mode("overwrite").parquet(s"$out/$t.parquet")

        staged.createNewFile()
        println(f"SCALELAB gen x$f: staged in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        sweep()
      }
    }

    // ─────────────────────────── counts ───────────────────────────
    // VERDICT r15 item 5: the dedup candidate-volume audit. Linear
    // algorithm + replica-disjoint corpus ⇒ candidates ≈ F × base;
    // a superlinear segment/band-collision distribution shows here
    // long before it shows in wall time.
    if (sections("counts")) {
      val fs = 1 +: factorsNeeded.filter(f =>
        Families.find(_._1 == "dedup").get._3.contains(f))
      for (f <- fs) {
        val d = dirFor(f)
        val docs = graft.sources.Tables.documents(spark, d)
        val nDocs = docs.count()
        val fuzzy = Dedup.dedupFuzzyCandidatesOn(docs).count()
        // raw segment-join volume (pre-distinct: what the shuffle and
        // the distinct actually pay) and the UNCAPPED distinct volume
        // (what the hot-gram cap is buying; skipped at 100× where the
        // uncapped pair set is billions)
        val fuzzyRaw = Dedup.dedupFuzzyCandidatesRawOn(docs)
          .groupBy().count().head().getLong(0)
        val fuzzyUncapped = if (f <= 10)
          Dedup.dedupFuzzyCandidatesRawOn(docs, maxGramDf = Long.MaxValue)
            .distinct().count()
        else -1L
        val sketch = Dedup.minhashSketch(spark, d)
        val bands = Dedup.bandsOf(sketch)
        val mh = bands.as("x")
          .join(bands.as("y"),
            col("x.band_idx") === col("y.band_idx") &&
              col("x.band_key") === col("y.band_key") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
        println(s"SCALELAB counts x$f docs=$nDocs fuzzy_cands=$fuzzy " +
          s"fuzzy_raw=$fuzzyRaw fuzzy_uncapped=$fuzzyUncapped minhash_cands=$mh")
        sweep()
      }
    }

    // ────────────────────────── counts2 ───────────────────────────
    // r17 batch 2 (VERDICT r16 "What's missing" 1): candidate-volume
    // audit for the prefix/bucket-join tail. Bucket-join pair mass is
    // priced ANALYTICALLY from bucket sizes (Σ n·(n−1)/2 per bucket —
    // exact for per-table emission, an upper bound on the cross-table
    // DISTINCT the ops actually keep), so the 100× rows cost a
    // groupBy over tags, never a materialized pair set. Ring-cap
    // masses use the same closed form (n>cap ⇒ n·cap − cap(cap+1)/2).
    if (sections("counts2")) {
      // doubled inside the sum, halved on the driver — Spark's `/`
      // on longs is DOUBLE division and would lose exactness
      def pairMass(buckets: DataFrame): Long =
        buckets.agg(sum(col("count") * (col("count") - 1))).head().getLong(0) / 2
      def ringMass(buckets: DataFrame, cap: Int): Long =
        buckets.agg(sum(when(col("count") > cap,
            col("count") * (2L * cap) - cap.toLong * (cap + 1))
          .otherwise(col("count") * (col("count") - 1)))).head().getLong(0) / 2
      for (f <- Seq(1, 10, 100)) {
        val d = dirFor(f)
        val sj = Dedup.simjoinPrefixCandidates(spark, d).count()
        sweep()
        val e = graft.sources.Tables.embeddings(spark, d)
        val knnB = Similarity.embeddingTaggedOf(e, Similarity.NTables, Similarity.BitsPerTable)
          .groupBy("table_idx", "table_key").count()
        val (knnUb, knnCap) = (pairMass(knnB), ringMass(knnB, 64))
        sweep()
        val (embT, embBits) = Dedup.embTablesBits
        val embB = Similarity.embeddingTaggedOf(e, embT, embBits)
          .groupBy("table_idx", "table_key").count()
        val embUb = pairMass(embB)
        sweep()
        val ph8 = pairMass(Multimodal.phashBands(spark, d, 6, 8)
          .groupBy("k", "bv").count())
        val ph4 = pairMass(Multimodal.phashBands(spark, d, 3, 4)
          .groupBy("k", "bv").count())
        sweep()
        val semB = Similarity.cellAssignments(spark, d).groupBy("cell").count()
        val semFix = pairMass(semB)
        val semNx = pairMass(Similarity.cellAssignmentsWith(spark, d,
            Similarity.learnedCentroids(spark, d,
              nCells = Similarity.NCells * f))
          .groupBy("cell").count())
        println(s"SCALELAB counts2 x$f sj_cands=$sj knn_ub=$knnUb " +
          s"knn_cap64=$knnCap emb_ub=$embUb phash_8x8=$ph8 phash_4x16=$ph4 " +
          s"sem_fixed=$semFix sem_nx=$semNx")
        sweep()
      }
    }

    // ─────────────────────────── spill ────────────────────────────
    // VERDICT r17 carry-over 3: the simjoin_prefix / dedup_substring
    // 100× walls were attributed to the single-JVM memory ceiling BY
    // ELIMINATION (candidate/row mass exactly linear, SHUFFLE=256 A/B
    // worse both ways). This section reads the evidence directly —
    // per-run TaskMetrics spill bytes at 10× vs 100×. The attribution
    // predicts mem/disk spill exploding ≫10× (per-partition working
    // sets breach the fixed executor memory and sort-spill engages)
    // while candidate mass grows exactly 10×; a real cluster scales
    // executors WITH data, so the spill never engages at a constant
    // per-executor share.
    if (sections("spill")) {
      val memSpill = new java.util.concurrent.atomic.AtomicLong()
      val diskSpill = new java.util.concurrent.atomic.AtomicLong()
      val shufWrite = new java.util.concurrent.atomic.AtomicLong()
      val peakMem = new java.util.concurrent.atomic.AtomicLong()
      val gcMs = new java.util.concurrent.atomic.AtomicLong()
      val cpuNs = new java.util.concurrent.atomic.AtomicLong()
      val runMs = new java.util.concurrent.atomic.AtomicLong()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val tm = t.taskMetrics
          if (tm != null) {
            memSpill.addAndGet(tm.memoryBytesSpilled)
            diskSpill.addAndGet(tm.diskBytesSpilled)
            shufWrite.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
            peakMem.updateAndGet(p => math.max(p, tm.peakExecutionMemory))
            gcMs.addAndGet(tm.jvmGCTime)
            cpuNs.addAndGet(tm.executorCpuTime)
            runMs.addAndGet(tm.executorRunTime)
            ()
          }
        }
      })
      // SCALELAB_SPILL_OPS=dedup_fuzzy,... overrides the default pair
      // (added for the r18 fuzzy verify rework's CPU attribution)
      val spillOps = sys.env.get("SCALELAB_SPILL_OPS")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq("simjoin_prefix", "dedup_substring"))
      for (op <- spillOps; f <- Seq(10, 100)) {
        memSpill.set(0); diskSpill.set(0); shufWrite.set(0); peakMem.set(0)
        gcMs.set(0); cpuNs.set(0); runMs.set(0)
        val (sec, j, _) = timed(jobs, stages) {
          SparkEntry.queries(op)(spark, dirFor(f)).count(); ()
        }
        val mib = 1L << 20
        println(f"SCALELAB spill op=$op%-15s x$f%-3d sec=$sec%7.2f jobs=$j%3d " +
          f"memSpill=${memSpill.get / mib}%7d MiB diskSpill=${diskSpill.get / mib}%7d MiB " +
          f"shufWrite=${shufWrite.get / mib}%7d MiB peakTaskMem=${peakMem.get / mib}%5d MiB " +
          f"gc=${gcMs.get / 1000.0}%7.1f s cpu=${cpuNs.get / 1e9}%8.1f s run=${runMs.get / 1000.0}%8.1f s")
        sweep()
      }
    }

    // ─────────────────────────── stages ───────────────────────────
    // per-stage task-count / runtime histogram for one op over one
    // dir (SCALELAB_OP / SCALELAB_DIR) — the microscope that pins
    // WHICH stage serializes when a wall ≈ Σ task runtime (the r18
    // single-file staging investigation).
    if (sections("stages")) {
      val op = sys.env.getOrElse("SCALELAB_OP", "dedup_substring")
      val d = sys.env.getOrElse("SCALELAB_DIR", dirFor(100))
      val stageRows = new scala.collection.concurrent.TrieMap[Int, (Int, Long, Long, String)]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val si = s.stageInfo
          val tm = si.taskMetrics
          val (run, cpu) =
            if (tm == null) (0L, 0L) else (tm.executorRunTime, tm.executorCpuTime / 1000000L)
          stageRows(si.stageId) = (si.numTasks, run, cpu, si.name.takeWhile(_ != '\n').take(70))
          ()
        }
      })
      val (sec, j, _) = timed(jobs, stages) {
        SparkEntry.queries(op)(spark, d).count(); ()
      }
      println(f"SCALELAB stages op=$op dir=$d sec=$sec%.2f jobs=$j")
      stageRows.toSeq.sortBy(-_._2._2).take(12).foreach { case (id, (n, run, cpu, name)) =>
        println(f"SCALELAB stages   id=$id%4d tasks=$n%4d sumRun=${run / 1000.0}%8.2f s " +
          f"sumCpu=${cpu / 1000.0}%8.2f s  $name")
      }
      sweep()
    }

    // ────────────────────────── phashdup ──────────────────────────
    // r18 default-flip evidence (VERDICT r17 weak 1): the planted
    // duplicate-heavy corpus — every hash ×20 under fresh doc ids,
    // the realistic 100 TB re-encode/mirror mass. The per-document
    // banded mass is priced ANALYTICALLY (duplication multiplies
    // every bucket by m ⇒ Σ bucket² by ~m²=400 — materializing it at
    // 10× is the ENOSPC class); the now-registered grouped path is
    // TIMED: its banding sees DISTINCT hashes only, so duplication
    // adds nothing but the output-sized member expansion, and its
    // wall tracks the UNduplicated `time`-section phash_dedup rows.
    if (sections("phashdup")) {
      def pairMass(buckets: DataFrame): Long =
        buckets.agg(sum(col("count") * (col("count") - 1))).head().getLong(0) / 2
      val m = 20
      for (f <- Seq(1, 10)) {
        val d = dirFor(f)
        // hashes compute once (eager) — the planted corpus must not
        // re-run the PNG encode/decode per measured branch
        val planted = Multimodal.multimodalPhash(spark, d)
          .select(col("doc_id"), col("phash_lo"), col("phash_hi"))
          .withColumn("c", explode(expr(s"sequence(0, ${m - 1})")))
          .select((col("doc_id") * 32 + col("c")).as("doc_id"),
            col("phash_lo"), col("phash_hi"))
          .localCheckpoint()
        CacheScope.release(blocking = true)
        val bandedMass = pairMass(Multimodal.phashBandsOf(planted, 6, 8)
          .groupBy("k", "bv").count())
        val groupedMass = pairMass(Multimodal.phashBandsOf(
            planted.groupBy("phash_lo", "phash_hi")
              .agg(min(col("doc_id")).as("doc_id")), 6, 8)
          .groupBy("k", "bv").count())
        val (sec, j, _) = timed(jobs, stages) {
          Multimodal.phashDedupGrouped(planted).count(); ()
        }
        println(f"SCALELAB phashdup x$f m=$m banded_mass=$bandedMass " +
          f"grouped_mass=$groupedMass grouped_sec=$sec%.2f jobs=$j")
        sweep()
      }
    }

    // ────────────────────────── knncap ────────────────────────────
    // recall of the ring-capped knn_join vs the registered uncapped
    // op at every swept SF — the floor that licenses (or forbids)
    // flipping the default, the ann_graph initPairCap arc
    if (sections("knncap")) {
      for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", Base);
           cap <- Seq(256, 64)) {
        val full = Similarity.knnJoin(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(2))).toSet
        val capped = Similarity.knnJoinCapped(spark, d, cap).collect()
          .map(r => (r.getLong(0), r.getLong(2))).toSet
        val recall = full.intersect(capped).size.toDouble / full.size
        val exact = if (capped == full) "EXACT" else "differs"
        println(f"SCALELAB knncap dir=${d.split('/').last}%-8s cap=$cap%-4d " +
          f"recall=$recall%.4f ($exact, ${full.size} rows)")
        sweep()
      }
    }

    // ─────────────────────────── floor ────────────────────────────
    // VERDICT r15 item 4: the per-job machinery constant. Three
    // representative cheap shapes (scan-agg, join, window) run at
    // sf0.001 (data → ~0, time ≈ jobs × perJob) and sf0.1; the
    // implied s/job is what the scaling ratios should mentally
    // subtract before reading an exponent out of a small ratio.
    if (sections("floor")) {
      for (op <- Seq("q1", "q3", "window_rank");
           d <- Seq("/root/testdata/sf0.001", Base)) {
        val (sec, j, st) = timed(jobs, stages) {
          SparkEntry.queries(op)(spark, d).count()
        }
        println(f"SCALELAB floor op=$op%-12s dir=${d.split('/').last}%-8s " +
          f"sec=$sec%6.2f jobs=$j%3d stages=$st%3d perJob=${sec / math.max(1, j)}%6.3f")
        sweep()
      }
    }

    // ──────────────────────────── time ────────────────────────────
    // SCALELAB_FAMS=graph,sort re-times a subset after a partial run
    if (sections("time")) {
      val famFilter = sys.env.get("SCALELAB_FAMS")
        .map(_.split(',').map(_.trim).toSet)
      val factorFilter = sys.env.get("SCALELAB_FACTORS")
        .map(_.split(',').map(_.trim.toInt).toSet)
      val active = Families.filter(f => famFilter.forall(_.contains(f._1)))
        .map { case (fam, ops, fs) =>
          (fam, ops, fs.filter(f => factorFilter.forall(_.contains(f))))
        }
      val results = scala.collection.mutable.ArrayBuffer[(String, Int, Double, Int)]()
      for ((fam, ops, factors) <- active; rep <- 1 to 2; f <- factors; op <- ops) {
        // 100× runs once — they are minutes, and the question is the
        // exponent, not the variance. (r17: the registered ann_graph
        // now ships the ring-bounded init — GraphInitPairCap=64,
        // linear in n — so it runs at every factor; the UNCAPPED
        // quadratic init is the excluded configuration below.)
        if (rep == 1 || f < 100) {
          // fresh scratch epoch per (factor, rep) so streaming drains
          // are COLD each time (see the stream family comment)
          if (fam == "stream")
            sys.props(graft.sources.TempDirs.EpochProp) = s"slab${f}r$rep"
          var rows = -1L
          val (sec, j, _) = timed(jobs, stages) {
            val q = SparkEntry.queries(op)(spark, dirFor(f))
            // count() lets the optimizer ELIMINATE an unconsumed
            // global sort (EliminateSorts) — sort_export measured
            // 0.1 s flat across factors until this action forced the
            // range-partition + sort to actually run. Same class
            // (r19): forward_fill is a bare window PROJECTION —
            // count() preserves row count, so ColumnPruning removes
            // the whole Window and the row timed a bare scan (flat
            // 0.2–0.7 s from x1 to x100).
            rows = if (op == "sort_export" || op == "forward_fill") q.rdd.count()
                   else q.count()
            ()
          }
          // rows printed so a silently-empty result (the r17
          // directory-layout empty-drain class) is visible in the row
          // itself, not just as a too-fast wall
          println(f"SCALELAB time fam=$fam%-5s op=$op%-14s x$f%-3d rep=$rep sec=$sec%7.2f jobs=$j%3d rows=$rows")
          results += ((op, f, sec, j))
          sweep()
        }
      }
      // dial configurations (ann_graph_inf is the historical
      // UNCAPPED init — quadratic, ENOSPC at x100, timed 1×/10× for
      // the capped-vs-uncapped delta; the rest are the batch-2
      // linear-regime settings)
      for ((fam, label, factors, run) <- extraConfigs(spark, dirFor)
             if active.exists(_._1 == fam);
           f <- factors.filter(f => factorFilter.forall(_.contains(f)))) {
        val (sec, j, _) = timed(jobs, stages) { run(f) }
        println(f"SCALELAB time fam=$fam%-6s op=$label%-18s x$f%-3d rep=1 sec=$sec%7.2f jobs=$j%3d")
        results += ((label, f, sec, j))
        sweep()
      }
      // per-(op, factor) min-merged summary + ratio vs 1×
      println("SCALELAB summary (min over reps):")
      val byOp = results.groupBy(r => (r._1, r._2)).view
        .mapValues(rs => (rs.map(_._3).min, rs.head._4)).toMap
      val allOps = active.flatMap { case (_, ops, factors) =>
        ops.map(op => (op, factors))
      } ++ extraConfigs(spark, dirFor).collect {
        case (fam, label, factors, _) if active.exists(_._1 == fam) =>
          (label, factors)
      }
      for ((op, factors) <- allOps) {
        val base = byOp.get((op, 1)).map(_._1)
        val cells = factors.flatMap { f =>
          byOp.get((op, f)).map { case (t, j) =>
            val r = base.map(b => f"${t / b}%.1f").getOrElse("-")
            f"x$f=$t%.2f(r$r,j$j)"
          }
        }
        println(s"SCALELAB summary op=$op ${cells.mkString(" ")}")
      }
    }

    spark.stop()
  }

  /** Times `body`, returning (seconds, jobs started, stages run). */
  private def timed(jobs: AtomicInteger, stages: AtomicInteger)(body: => Unit): (Double, Int, Int) = {
    val j0 = jobs.get(); val s0 = stages.get()
    val t0 = System.nanoTime()
    body
    ((System.nanoTime() - t0) / 1e9, jobs.get() - j0, stages.get() - s0)
  }
}
