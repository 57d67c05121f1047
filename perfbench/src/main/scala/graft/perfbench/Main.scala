package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.functions._
import graft.sources.TempDirs

/** One benchmark run of one workload, closed loop: the driver thread
  * submits each op after the previous one has finished.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *      --data DIR --clk-tck HZ
  * }}}
  *
  * Order: set-up (session start plus input generation), one cold pass
  * over the ops, steady passes until the workload's minimum number of
  * passes has run and `seconds` have gone (after the workload's
  * untimed warm-up passes), output checks. A traced run
  * then times the host calibration kernel, each input scan and the
  * functions probes, and after an untimed warm-up pass runs three
  * steady passes whatever `seconds` says (traced, untraced, traced),
  * so the tracing overhead is measured in the same process.
  * Results go to `--out` as JSON.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, data: String, clkTck: Double) {
    /** Usable cores (respects the process's CPU affinity). */
    val cpus: Int = Runtime.getRuntime.availableProcessors()
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("out"), m("data"), m("clk-tck").toDouble)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def now: Long = System.nanoTime()
  private def secs(t0: Long, t1: Long = now): Double = (t1 - t0) / 1e9
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** utime + stime of this process, from /proc/self/stat, in clock ticks. */
  def cpuTicks(): Long = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), UTF_8)
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong
  }

  /** VmHWM (peak resident set) of this process, in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmBoot = (System.currentTimeMillis() -
      ProcessHandle.current().info().startInstant().get().toEpochMilli) / 1e3
    System.setProperty("java.io.tmpdir", s"${a.work}/tmp")
    new File(s"${a.work}/tmp").mkdirs()
    val wl = Workloads(a.workload, a.data)

    // Set-up, once: what a one-shot job pays before its first op starts.
    val t0Setup = now
    val spark = session(a)
    val dir = s"${a.work}/in"
    val inputs = wl.generate(spark, dir, a.seed)
    val setupS = jvmBoot + secs(t0Setup)

    val r = new Runner(spark, wl, dir)
    val out = mutable.LinkedHashMap[String, Any]()
    val trace = mutable.LinkedHashMap[String, Double]()
    out("workload") = a.workload
    out("seed") = a.seed
    out("config") = Map("cpus" -> a.cpus, "master" -> s"local[${a.cpus}]",
      "shuffle_partitions" -> a.cpus,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark" -> spark.version, "warmup_passes" -> (if (a.trace) 1 else wl.warmupPasses),
      "min_steady_passes" -> wl.steadyPasses,
      "load" -> "closed loop, 1 driver thread")
    out("inputs") = inputs

    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cold = r.pass("cold", a.trace)
    val codegenS = (CodeGenerator.compileTime - compile0) / 1e9
    val codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0

    // The traced run's probes come after its cold pass, so that pass is
    // as cold as an untraced run's.
    if (a.trace) {
      val (cpu, shuffle) = Probes.calibrate(spark)
      trace("host.calib_cpu_s") = cpu
      trace("host.calib_shuffle_s") = shuffle
      trace ++= r.scanLayer()
      trace ++= Probes.functions(spark)
    }

    // Untraced runs: the workload's warm-up passes, untimed, then steady
    // passes until its minimum has run and `seconds` have gone; the
    // median absorbs what JIT compilation is left in the first of them.
    // Traced runs: one warm-up pass, then traced, untraced, traced, so
    // both kinds sit at the same mean position and the remaining
    // warm-up does not read as overhead.
    val warm = (1 to (if (a.trace) 1 else wl.warmupPasses)).map(k => r.pass(s"warm$k", traced = false))
    val steady = mutable.ArrayBuffer[Runner.Pass]()
    val tracedSteady = mutable.ArrayBuffer[Runner.Pass]()
    val t0 = now
    var k = 0
    val order = if (a.trace) Seq(true, false, true) else Seq.empty
    while (k < order.size || (!a.trace && (k < wl.steadyPasses || secs(t0) < a.seconds))) {
      val traced = k < order.size && order(k)
      k += 1
      val p = r.pass(s"steady$k", traced)
      if (traced) tracedSteady += p else steady += p
    }
    val rss = peakRssMb()
    val cpuPerPass = steady.map(p => p.cpu(a.clkTck))

    val tCheck = now
    val (checkFailures, oracles) = r.check(a.work, a.seed, Seq(cold) ++ warm ++ steady ++ tracedSteady)
    out("check_s") = secs(tCheck)

    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "cold_pass_s" -> cold.wall,
      "wall_s" -> median(steady.map(_.wall).toSeq),
      "cpu_s" -> median(cpuPerPass.toSeq),
      "peak_rss_mb" -> rss)

    if (a.trace) {
      val last = tracedSteady.last
      trace ++= r.layerMetrics(last)
      out("spans") = (cold +: tracedSteady.toSeq).flatMap(r.spanRecords)
      trace("trace.overhead_s") = median(tracedSteady.map(_.wall).toSeq) - median(steady.map(_.wall).toSeq)
      trace("spark.codegen_compile_s") = codegenS
      trace("spark.codegen_classes") = codegenClasses.toDouble
      trace("jvm.heap_after_gc_mb") = Probes.heapAfterGcMb()
      val (cpu, shuffle) = Probes.calibrate(spark)
      trace("host.calib_cpu_s") = (trace("host.calib_cpu_s") + cpu) / 2
      trace("host.calib_shuffle_s") = (trace("host.calib_shuffle_s") + shuffle) / 2
    }

    out("jvm_boot_s") = jvmBoot
    out("steady_pass_s") = steady.map(_.wall).toSeq
    out("steady_cpu_s") = cpuPerPass.toSeq
    out("traced_pass_s") = tracedSteady.map(_.wall).toSeq
    out("ops") = r.opTable(cold, (steady ++ tracedSteady).toSeq)
    out("attempted") = r.attempted
    out("failed") = r.failed + checkFailures.size
    out("failures") = r.failures.toSeq ++ checkFailures
    out("oracle_checks") = oracles.map(o => Map("op" -> o.op, "output" -> o.output,
      "tables" -> o.tables, "sql" -> o.sql))
    out("e2e") = e2e
    out("per_layer") = trace
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out)
    Files.write(Paths.get(a.out), json.getBytes(UTF_8))
    spark.stop()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}

/** Runs passes over one workload's ops and keeps their records. */
final class Runner(spark: SparkSession, wl: Workload, dir: String) {
  import Runner._

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  private val ops = wl.ops(spark, dir)

  /** Drops every cache the op left behind; returns how many RDDs were
    * still persisted after `CacheScope.release()`. */
  private def hygiene(): Int = {
    CacheScope.release()
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    left
  }

  /** Builds and materializes `op` under `tracer` with `sink`; returns
    * the fingerprint, or a string starting with "error:". */
  private def exec(op: Op, tracer: Tracer, pass: String, sink: Dataset[_] => Unit): String = {
    attempted += 1
    try tracer.span(s"op.${op.name}") {
      val ds = tracer.span("build")(op.build())
      val (observed, obs) = Fingerprint.observed(ds)
      tracer.span("exec")(sink(observed))
      Fingerprint.read(obs)
    } catch {
      case e: Throwable =>
        failed += 1
        val msg = s"${op.name} ($pass): ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
        failures += msg
        s"error: $msg"
    }
  }

  def pass(name: String, traced: Boolean): Pass = {
    sys.props(TempDirs.EpochProp) = name
    val tracer = new Tracer(spark, traced, name)
    tracer.start()
    val c0 = Main.cpuTicks()
    val t0 = System.nanoTime()
    var persisted = 0
    val results = ops.map { op =>
      val s = System.nanoTime()
      val fp = exec(op, tracer, name, op.sink)
      val e = System.nanoTime()
      persisted += hygiene()
      (op.name, (e - s) / 1e9, fp)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpuTicks = Main.cpuTicks() - c0
    tracer.stop()
    Pass(name, wall, cpuTicks, results, tracer, persisted)
  }

  /** Fingerprints must agree across passes; then the workload's own checks. */
  def check(work: String, seed: Long, passes: Seq[Pass]): (Seq[String], Seq[OracleCheck]) = {
    val drift = ops.flatMap { op =>
      val fps = passes.map(p => p.results.find(_._1 == op.name).get._3)
      val ref = fps.head
      passes.zip(fps).collect { case (p, fp) if fp != ref && !fp.startsWith("error:") && !ref.startsWith("error:") =>
        s"${op.name}: ${p.name} fingerprint $fp differs from ${passes.head.name}'s $ref"
      }
    }
    sys.props(TempDirs.EpochProp) = "check"
    val off = new Tracer(spark, false)
    val fps = passes.head.results.collect { case (n, _, fp) if !fp.startsWith("error:") => n -> fp }.toMap
    val (bad, oracles) = wl.check(spark, dir, work, seed, fps, (op, path) => {
      val fp = exec(op, off, "check", _.write.mode("overwrite").parquet(path))
      hygiene()
      fp
    })
    (drift ++ bad, oracles)
  }

  /** Per op: cold and steady times, and the fingerprint. */
  def opTable(cold: Pass, steady: Seq[Pass]): Seq[Map[String, Any]] = ops.map { op =>
    def result(p: Pass) = p.results.find(_._1 == op.name).get
    Map("op" -> op.name, "cold_s" -> result(cold)._2, "steady_s" -> steady.map(result(_)._2),
      "fingerprint" -> result(cold)._3)
  }

  /** Noop scan of each input under its own span (sources layer). */
  def scanLayer(): Map[String, Double] = {
    val tracer = new Tracer(spark, true, "scan")
    tracer.start()
    wl.scans(spark, dir).foreach { case (n, df) => tracer.span(s"scan.$n")(Op.noop(df())) }
    tracer.stop()
    val spans = tracer.all.filter(_.parent == -1)
    val c = spans.map(tracer.total)
    Map("sources.scan_s" -> spans.map(_.dur).sum / 1e9,
      "sources.input_mb" -> wl.inputPaths(dir).map(Workloads.sizeMb).sum,
      "sources.input_rows" -> c.map(_.inputRecords).sum.toDouble,
      "sources.scan_tasks" -> c.map(_.tasks).sum.toDouble)
  }

  /** Every span of a traced pass with its self time and the jobs and
    * tasks charged to it (times relative to the pass start). */
  def spanRecords(p: Pass): Seq[Map[String, Any]] = {
    val all = p.tracer.all
    val origin = if (all.isEmpty) 0L else all.map(_.start).min
    all.sortBy(_.start).map { s =>
      val c = p.tracer.counters.getOrElse(s.id, new Counters)
      Map("run" -> s.run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.start - origin) / 1e9, "dur_s" -> s.dur / 1e9,
        "self_s" -> Span.selfTime(s, all) / 1e9, "jobs" -> c.jobs, "tasks" -> c.tasks)
    }
  }

  /** Per-layer metrics of one traced pass. */
  def layerMetrics(p: Pass): Map[String, Double] = {
    val t = p.tracer
    val spans = t.all
    val opSpans = spans.filter(_.parent == -1)
    def kids(s: Span, n: String) = spans.filter(k => k.parent == s.id && k.name == n)
    val builds = opSpans.flatMap(kids(_, "build"))
    val execs = opSpans.flatMap(kids(_, "exec"))
    val planS = execs.map(e => t.counters.get(e.id).map(_.planMs).getOrElse(0L)).sum / 1e3
    val all = new Counters
    t.counters.values.foreach(all.add)
    def opS(n: String) = opSpans.find(_.name == s"op.$n").map(_.dur / 1e9).getOrElse(0.0)
    val mrRun = opSpans.find(_.name == "op.mr_wordcount")
    val m = mutable.LinkedHashMap[String, Double](
      "mr.run_s" -> opS("mr_wordcount"),
      "mr.pipe_s" -> opS("mr_pipe_awk"),
      "mr.sink_s" -> opS("mr_sink"),
      "mr.shuffle_records" -> mrRun.map(s => t.total(s).shuffleWriteRecords.toDouble).getOrElse(0.0),
      "operators.build_s" -> builds.map(_.dur).sum / 1e9,
      "operators.plan_s" -> planS,
      "operators.exec_s" -> (execs.map(_.dur).sum / 1e9 - planS),
      "operators.build_jobs" -> builds.map(t.total(_).jobs).sum.toDouble,
      "operators.exec_jobs" -> execs.map(t.total(_).jobs).sum.toDouble,
      "cache.persisted_after_op" -> p.persisted.toDouble,
      "cache.storage_mb_peak" -> t.storagePeak / 1e6,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_run_s" -> all.taskRunNs / 1e9,
      "spark.task_cpu_s" -> all.taskCpuNs / 1e9,
      "spark.task_wait_s" -> all.taskWaitMs / 1e3,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.shuffle_write_mb" -> all.shuffleWriteBytes / 1e6,
      "spark.shuffle_write_records" -> all.shuffleWriteRecords.toDouble,
      "spark.spill_mb" -> all.spillBytes / 1e6,
      "spark.peak_exec_mem_mb" -> all.peakExecMem / 1e6)
    ops.foreach(op => m(s"op.${op.name}.s") = opS(op.name))
    m.toMap
  }
}

object Runner {
  final case class Pass(name: String, wall: Double, cpuTicks: Long,
      results: Seq[(String, Double, String)], tracer: Tracer, persisted: Int) {
    def cpu(clkTck: Double): Double = cpuTicks / clkTck
  }
}

/** Microbenchmarks that need no workload: ns/row of each custom
  * function, and a fixed host calibration kernel. */
object Probes {
  val ScalarRows = 400000L
  val VectorRows = 100000L
  val Reps = 8

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Median of three runs of `body`, after one untimed warm-up run. */
  private def best(body: => Unit): Double = {
    body
    Main.median(Seq.fill(3)(time(body)))
  }

  /** A fixed single-thread CPU loop, and a small fixed shuffle. */
  def calibrate(spark: SparkSession): (Double, Double) = {
    val cpu = best {
      var x = 1L
      var i = 0
      while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
      if (x == 42) println(x)
    }
    val shuffle = best(Op.noop(spark.range(0, 2000000, 1, 4).groupBy(col("id") % 10007).count()))
    (cpu, shuffle)
  }

  /** Executor CPU nanoseconds of the jobs `body` runs: median of three
    * runs after one untimed warm-up run. */
  private def cpuNs(spark: SparkSession)(body: => Unit): Double = {
    body
    Main.median(Seq.fill(3) {
      val t = new Tracer(spark, true)
      t.start()
      t.span("probe")(body)
      t.stop()
      t.total(t.all.head).taskCpuNs.toDouble
    })
  }

  /** CPU ns per application per input row of each function: a one-row
    * aggregate over a cached input that applies the function `Reps`
    * times per row (distinct arguments, so none is eliminated), minus
    * the same aggregate over a trivial expression that reads the same
    * columns. Sketches run per group (1000 groups), once per row. */
  def functions(spark: SparkSession): Map[String, Double] = {
    val parts = spark.sparkContext.defaultParallelism
    val scalars = spark.range(0, ScalarRows, 1, parts)
      .select((col("id") % 1000).as("g"), xxhash64(col("id")).as("h"),
        (col("id") % 7 + 1).as("w"), (col("id") % 5000).cast("string").as("key"))
      .persist()
    val vec = (s: Long) => array((0 until 64).map(d =>
      (xxhash64(col("id"), lit(s * 100 + d)) % 1000).cast("float")): _*)
    val vectors = spark.range(0, VectorRows, 1, parts).select(vec(1).as("a"), vec(2).as("b")).persist()
    Op.noop(scalars)
    Op.noop(vectors)
    def grouped(c: Column) = Op.noop(scalars.groupBy("g").agg(c))
    def top(cs: Seq[Column]) = if (cs.size == 1) cs.head else greatest(cs: _*)
    def scalar(cs: Seq[Column]) = Op.noop(scalars.agg(max(top(cs))))
    def vector(cs: Seq[Column]) = Op.noop(vectors.agg(max(top(cs))))
    val pairs = Seq(("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")).map { case (x, y) => (col(x), col(y)) }
    def ns(rows: Long, reps: Int, base: Double)(body: => Unit): Double =
      (cpuNs(spark)(body) - base) / rows / reps
    val groupedBase = cpuNs(spark)(grouped(max(col("h") + col("w"))))
    val keyBase = cpuNs(spark)(scalar(Seq(length(col("key")))))
    val vectorBase = cpuNs(spark)(vector(Seq(size(col("a")) + size(col("b")))))
    val m = Map(
      "functions.minhash_sig_ns_row" -> ns(ScalarRows, 1, groupedBase)(grouped(MinhashSigAgg.minhash_sig(col("h"), 7L, 64))),
      "functions.simhash_agg_ns_row" -> ns(ScalarRows, 1, groupedBase)(grouped(SimhashAgg.simhash_agg(col("h"), col("w")))),
      "functions.kmv_distinct_ns_row" -> ns(ScalarRows, 1, groupedBase)(grouped(KmvSketchAgg.kmv_distinct(col("h"), 256))),
      "functions.cms_sketch_ns_row" -> ns(ScalarRows, 1, groupedBase)(grouped(CountMinAgg.cms_sketch(col("key"), 4, 1024))),
      "functions.mg_topk_ns_row" -> ns(ScalarRows, 1, groupedBase)(grouped(MisraGriesAgg.mg_topk(col("key"), 16))),
      "functions.xxhash64_seeded_ns_row" -> ns(ScalarRows, Reps, keyBase)(
        scalar((1 to Reps).map(s => VectorFunctions.xxhash64Seeded(s.toLong, col("key"))))),
      "functions.cosine_sim_ns_row" -> ns(VectorRows, pairs.size, vectorBase)(
        vector(pairs.map { case (x, y) => VectorFunctions.cosine_sim(x, y) })),
      "functions.dot_product_ns_row" -> ns(VectorRows, pairs.size, vectorBase)(
        vector(pairs.map { case (x, y) => VectorFunctions.dot_product(x, y) })))
    scalars.unpersist(blocking = true)
    vectors.unpersist(blocking = true)
    m
  }

  /** Heap in use right after the last collection, summed over pools. */
  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }
}
