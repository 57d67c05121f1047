package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench JSON line is the driver's only window into per-round
  * performance; a malformed or over-long line nulls the whole round's
  * bench. These tests pin the rendering contract without a
  * SparkSession. */
class BenchLineSpec extends AnyFunSuite {

  test("registry contract: no cross-module name collisions, every query carries an oracle") {
    // Map ++ silently overwrites on collision — a duplicated name
    // would DROP a query from the driver contract without any error
    val total = SparkEntry.modules.map(_.size).sum
    assert(SparkEntry.queries.size == total,
      s"cross-module name collision: ${total - SparkEntry.queries.size} query(ies) shadowed")
    val oracleTotal = SparkEntry.oracleModules.map(_.size).sum
    assert(SparkEntry.oracleSql.size == oracleTotal,
      "cross-module oracle name collision")
    // every registered query must gate through a full DuckDB oracle —
    // a missing entry silently degrades to the weak rows-only check
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracles: ${missing.toSeq.sorted.mkString(",")}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.toSeq.sorted.mkString(",")}")
  }

  test("docs-count contract: README/SURVEY state the real registry size (r9 item)") {
    // two rounds in a row the end-of-round docs shipped stale counts
    // (SURVEY said 157 at a 162-query HEAD). The docs' CURRENT-state
    // claims must carry the literal token "<N> registered" with
    // N == the live registry size — any registry growth breaks this
    // presence check until the docs are re-synced. (Historical
    // per-round sections legitimately keep their old counts; only
    // the current claim is asserted.)
    val n = SparkEntry.queries.size
    val token = s"$n registered"
    Seq("README.md", "SURVEY.md").foreach { f =>
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
      assert(text.contains(token), s"$f does not state '$token' (stale count?)")
    }
  }

  test("writeDetail dumps the FULL per-query map as parseable JSON (r11 verdict item 3)") {
    val results = (1 to 60).map(i => (f"q$i%03d", i * 0.1))
    val errors = scala.collection.mutable.LinkedHashMap("qbad" -> "boom msg")
    // default dir is the working directory (what the driver commits)
    Bench.writeDetail(results, errors, "/root/testdata/sf0.01", Seq("q001", "q002"))
    val p = java.nio.file.Paths.get("bench_detail_sf0.01.json")
    assert(java.nio.file.Files.exists(p), "detail file written")
    val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    // no size budget: every query present, full 3-decimal precision
    assert(text.contains("\"q060\": 6.000") && text.contains("\"q001\": 0.100"))
    assert(text.contains("\"nerr\": 1") && text.contains("\"qbad\""))
    assert(text.contains("\"damped\": [\"q001\", \"q002\"]"))
    assert(text.contains("\"n_queries\": 60"))
    // minimal JSON sanity without a parser dependency
    assert(text.count(_ == '{') === text.count(_ == '}'))
    java.nio.file.Files.delete(p)
  }

  test("f2 renders valid minimal JSON numbers") {
    assert(Bench.f2(0.50)  === "0.5")
    assert(Bench.f2(1.00)  === "1")
    assert(Bench.f2(11.12) === "11.12")
    assert(Bench.f2(0.004) === "0")
    assert(Bench.f2(132.87) === "132.87")
  }

  test("sanitize strips JSON-hostile characters and caps length") {
    val hostile = "boom \"quoted\" back\\slash\nnewlinectl"
    val s = Bench.sanitize(hostile)
    assert(!s.exists(c => c == '"' || c == '\\' || c < ' '))
    assert(Bench.sanitize("x" * 500).length === 200)
  }

  test("renderLine emits parseable JSON with and without errors") {
    val results = Seq("q_a" -> 0.5, "q_b" -> 1.25)
    val clean = Bench.renderLine(results, Map.empty[String, String], "/data/sf")
    // per-query at one decimal, total at two, sf as basename
    assert(clean === """{"metric":"total","value":1.75,"unit":"sec","nerr":0,"queries":{"q_a":0.5,"q_b":1.3},"errors":{},"sf":"sf"}""")
    val withErr = Bench.renderLine(results, Map("q_b" -> "It broke"), "/sf")
    assert(withErr.contains(""""errors":{"q_b":"It broke"}"""))
    // the count survives every rung — a gate that reads only rc/parsed
    // must still see the failure (ADVICE r10)
    assert(withErr.contains(""""nerr":1"""))
  }

  test("renderLine degrades to failing-query names when messages overflow the budget") {
    // six full 200-char messages (~1.3 kB) + the rank-capped map
    // (~0.8 kB) overflow every full-message rung; names-only must
    // rescue the line
    val results = (1 to 88).map(i => f"q_bench_$i%03d" -> 1.23)
    val bigErrors = scala.collection.immutable.ListMap(
      (1 to 6).map(i => f"q_bench_$i%03d" -> ("x" * 200)): _*)
    val out = Bench.renderLine(results, bigErrors, "/root/testdata/sf0.1")
    assert(out.length <= 1900, s"degraded line still ${out.length} chars")
    assert(out.contains(""""_failed":"q_bench_001,q_bench_002"""))
    assert(!out.contains("xxx"), "full messages must be dropped in degraded mode")
    assert(out.contains(""""sf":"sf0.1""""), "sf renders as the dir basename")
  }

  test("renderLine stays inside the budget at the current registry size") {
    // the real guard: every registered name at a REALISTIC timing mix
    // (most queries sub-second, a multi-second tail — the measured r6
    // shape) must fit the tail window, keeping one decimal on the tail
    // (at 117 names the full map's name mass alone crowds the window,
    // so this lands on the tail-only rung — the ranking detail must
    // survive the cut). The damped flag rides along exactly as main
    // emits it: the rerun rule on an idle host (reruns as fast as the
    // first pass).
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 4 == 0) 2.37 else 0.43)
    }
    val first = results.toMap
    val (_, dampedNames) = Bench.dampWithBudget(results, Set.empty, Bench.RerunBudgetSec) { n =>
      (first(n), true)
    }
    val out = Bench.renderLine(results, Map.empty[String, String],
      "/root/testdata/sf0.1", damped = dampedNames)
    assert(out.length <= 1896,
      s"line ${out.length} chars at ${names.size} queries — over the 1900 budget")
    assert(out.contains(":2.4"), "multi-second queries must keep a decimal")
    assert(out.contains(""""damped":""""),
      "re-timed entries must be flagged for cross-round attribution")
  }

  test("under budget pressure the damped flag yields before ranking detail does") {
    val results = (1 to 60).map(i => f"q_long_name_$i%03d" -> 0.2) :+ ("q_slow" -> 7.33)
    val damped = (1 to 11).map(i => f"q_long_name_$i%03d") :+ "q_slow"
    // a budget the rank-capped rung fits WITHOUT the ~230-char flag
    // but not with it: the ladder must drop the flag, keep the ranks
    val out = Bench.renderLine(results, Map.empty[String, String], "/sf0.1",
      budget = 1150, damped = damped)
    assert(out.length <= 1150)
    assert(out.contains(""""q_slow":7.3"""), "ranking detail must survive")
    assert(!out.contains(""""damped":"""), "flag must yield before detail")
    // with headroom the same line keeps the flag
    val roomy = Bench.renderLine(results, Map.empty[String, String], "/sf0.1",
      budget = 1900, damped = damped)
    assert(roomy.contains(""""damped":""""))
  }

  test("renderLine survives a load-inflated run with tail detail intact") {
    // r5 lesson: a machine-load-inflated run prints longer digits
    // ("11.3" not "2.1") and can blow the full map past the window —
    // the rank-capped rung must rescue the line WITHOUT losing the
    // ranking decimals, folding the rest into _rest_n/_rest_sec.
    // Shape: the realistic mix at ~2.5x load (tail 10.7 s, rest 1.1 s).
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 4 == 0) 10.71 else 1.13)
    }
    val out = Bench.renderLine(results, Map.empty[String, String], "/root/testdata/sf0.1")
    assert(out.length <= 1900, s"inflated line ${out.length} chars")
    assert(out.contains("10.7"),
      "ranking-tail decimals must survive degradation")
    assert(out.contains(""""_rest_n":"""), "folded remainder must be reported")
  }

  test("renderLine's rank-capped rung folds the fast mass into numeric pseudo-entries") {
    // force the rank-capped rung with a tiny budget; the fast mass
    // must reappear as _rest_n / _rest_sec so the total reconciles
    val results = (1 to 60).map(i => f"q_long_name_$i%03d" -> 0.2) :+ ("q_slow" -> 7.33)
    val out = Bench.renderLine(results, Map.empty[String, String], "/sf0.1", budget = 1100)
    assert(out.length <= 1100, s"rank-capped line ${out.length} chars")
    assert(out.contains(""""q_slow":7.3"""))
    assert(out.contains(""""_rest_n":21"""), s"fold count wrong: $out")
    assert(out.contains(""""_rest_sec":4.2"""), s"fold seconds must sum: $out")
  }

  test("renderLine's absolute floor always fits and stays parseable") {
    // pathological: every query multi-digit seconds AND a budget too
    // small even for the rank-capped map — per-query detail is
    // dropped entirely before the line can outgrow the window
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val results = names.map(_ -> 47.3)
    val out = Bench.renderLine(results, Map("q_x" -> "boom"),
      "/root/testdata/sf0.1", budget = 200)
    assert(out.length <= 200, s"floor line ${out.length} chars")
    assert(out.contains(""""queries":{}"""))
    assert(out.contains(""""_failed":"q_x""""))
    assert(out.contains(""""value":"""))
    // and at the real budget, the same pathological mix keeps its
    // top-40 ranking detail
    val real = Bench.renderLine(results, Map("q_x" -> "boom"), "/root/testdata/sf0.1")
    assert(real.length <= 1900 && real.contains(""""_rest_n":"""))
  }

  test("dampWithBudget hard-caps rerun wall, keeps mins, flags only successful reruns (r13 item 1)") {
    // unordered input; q_b FAILED its first pass
    val results = Seq("q_a" -> 3.5, "q_new" -> 2.0, "q_b" -> 2.4, "q_d" -> 9.0)
    val failed = Set("q_b")
    val rerunTimes = Map("q_d" -> 4.1, "q_a" -> 2.5, "q_new" -> 1.9)
    val ran = scala.collection.mutable.ListBuffer[String]()
    val (damped, flagged) = Bench.dampWithBudget(results, failed, 60.0) { n =>
      ran += n; (rerunTimes(n), n != "q_a") // q_a's rerun FAILS
    }
    // estimates (first-pass): 9.0 + 3.5 + 2.0 all fit inside 60, and
    // the reruns go slowest first pass first whatever the input order
    assert(ran.toList === List("q_d", "q_a", "q_new"))
    assert(!ran.contains("q_b"), "a failed query is never re-timed")
    val m = damped.toMap
    assert(damped.map(_._1) === results.map(_._1), "results keep their input order")
    assert(m("q_d") === 4.1, "min of two runs recorded")
    assert(m("q_a") === 3.5, "failed rerun must NOT replace the first successful timing")
    assert(m("q_new") === 1.9)
    assert(m("q_b") === 2.4, "un-rerun ops keep their single-shot time")
    assert(flagged === List("q_d", "q_new"), "failed rerun is not flagged damped")
    // ADVICE r14: a candidate whose FIRST-PASS time would overshoot
    // the remaining budget is skipped BEFORE running (the old loop
    // always ran the first — likely longest — candidate, so actual
    // wall could exceed the 'hard cap' by one slow query), and the
    // scan continues so a cheaper later candidate uses the remainder
    val ran3 = scala.collection.mutable.ListBuffer[String]()
    val (_, flagged3) = Bench.dampWithBudget(results, failed, 6.0) { n =>
      ran3 += n; (rerunTimes(n), true)
    }
    assert(ran3.toList === List("q_a", "q_new"),
      "q_d's 9 s first pass exceeds the 6 s budget outright — never run; " +
        "q_a (3.5 est) runs, then q_new (2.5 spent + 2.0 est <= 6)")
    assert(flagged3 === List("q_a", "q_new"))
    // an op whose single first pass exceeds the ENTIRE budget is never
    // re-timed, by design — it stays honestly hot in the line
    val ran4 = scala.collection.mutable.ListBuffer[String]()
    Bench.dampWithBudget(Seq("q_huge" -> 99.0), Set.empty, 60.0) { n =>
      ran4 += n; (1.0, true)
    }
    assert(ran4.isEmpty)
  }

  test("damped flag caps at 15 names + count so a loaded run can't crowd the line (r13 item 1)") {
    val results = (1 to 50).map(i => f"q$i%02d" -> 1.0)
    val damped = (1 to 46).map(i => f"q$i%02d")
    val out = Bench.renderLine(results, Map.empty[String, String], "/sf0.1",
      damped = damped)
    assert(out.contains(""""damped":"q01 """), "flag present with headroom")
    assert(out.contains("+31\""), s"overflow count must be reported: $out")
    assert(!out.contains("q16 "), "names beyond 15 fold into the count")
  }

  test("scratch epoch flip hands out fresh trees — the noRerun set is retired (r14 item 2)") {
    // r15: Bench flips graft.scratch.epoch before its damping pass so
    // the streaming sink gates (whose checkpoint persists per-JVM by
    // design) re-run as a genuine cold drain instead of the warm
    // incremental path — the former noRerun exclusion set is gone.
    import graft.sources.TempDirs
    val before = TempDirs.scratch("epochspec", "/some/dir")
    try {
      sys.props(TempDirs.EpochProp) = "damp"
      val during = TempDirs.scratch("epochspec", "/some/dir")
      assert(during !== before, "epoch must hand out a fresh tree")
      assert(during.contains("_edamp"))
      assert(TempDirs.scratch("epochspec", "/some/dir") === during,
        "stable within one epoch")
    } finally sys.props.remove(TempDirs.EpochProp)
    assert(TempDirs.scratch("epochspec", "/some/dir") === before,
      "unset epoch restores the legacy path byte-for-byte")
    // and the retired names must still be real registry ops (a rename
    // would invalidate the epoch rationale documented in Bench)
    val streamGates = Set("stream_sink", "stream_join", "stream_join_outer", "stream_dedup")
    assert((streamGates -- SparkEntry.queries.keySet).isEmpty)
  }

  test("namedModules cover the registry exactly (r13 item 4)") {
    val union = SparkEntry.namedModules.map(_._2.keySet).foldLeft(Set.empty[String])(_ ++ _)
    assert(union === SparkEntry.queries.keySet)
    assert(SparkEntry.namedModules.map(_._1).distinct.size === SparkEntry.namedModules.size)
  }

  test("resolveModuleFilter: valid selectors union, unknown/empty fail loudly (r13 item 4)") {
    val mods: Seq[(String, Map[String, Int])] =
      Seq("alpha" -> Map("a1" -> 1, "a2" -> 2), "beta" -> Map("b1" -> 3))
    assert(Bench.resolveModuleFilter("alpha", mods) === Right(Set("a1", "a2")))
    // multi-select unions, case-insensitive, whitespace-tolerant
    assert(Bench.resolveModuleFilter(" Alpha , BETA ", mods) === Right(Set("a1", "a2", "b1")))
    val bad = Bench.resolveModuleFilter("alpha,gamma", mods)
    assert(bad.isLeft && bad.swap.exists(m => m.contains("gamma") && m.contains("alpha,beta")),
      s"unknown selector must name itself and the valid set: $bad")
    assert(Bench.resolveModuleFilter(" , ", mods).isLeft, "empty selector fails loudly")
    // every real module name resolves against the live registry
    SparkEntry.namedModules.foreach { case (n, qs) =>
      assert(Bench.resolveModuleFilter(n, SparkEntry.namedModules) === Right(qs.keySet))
    }
  }

  test("resolveNames: a misspelt or empty query selector fails loudly, naming the unknown entries") {
    // SPARK_GRAFT_ONLY and Verify's trailing names: a typo used to
    // filter the registry to nothing — "value":0,"nerr":0, or an
    // empty dump
    val known = SparkEntry.queries.keySet
    assert(Bench.resolveNames("query", Seq("wordcount", " q1 "), known) ===
      Right(Set("wordcount", "q1")))
    val bad = Bench.resolveNames("query", Seq("wordcount", "no_such_op", "q_typo"), known)
    assert(bad === Left("unknown query(s): no_such_op,q_typo"))
    assert(Bench.resolveNames("query", "".split(',').toSeq, known) ===
      Left("empty query selector"))
  }
}
