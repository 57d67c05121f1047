package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.mr.MapReduceJob
import graft.sources.{Tables, TextIO}

/** One unit of work in a pass. `build` constructs the result (any eager
  * jobs run here); `sink` materializes it. */
final case class Op(name: String, build: () => Dataset[_], sink: Dataset[_] => Unit = Op.noop)

object Op {
  /** Full materialization: every row of the result is produced and dropped. */
  val noop: Dataset[_] => Unit = _.write.format("noop").mode("overwrite").save()

  /** A registered operator, called through the public registry. */
  def registered(spark: SparkSession, dir: String, name: String): Op =
    Op(name, () => SparkEntry.queries(name)(spark, dir))
}

/** An oracle comparison left for the DuckDB side: the op's output,
  * written as parquet under `output`, the tables it read under
  * `tables`, and the oracle SQL. */
final case class OracleCheck(op: String, output: String, tables: String, sql: String)

trait Workload {
  /** Writes the inputs under `dir`; returns what was generated. */
  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Any]

  def ops(spark: SparkSession, dir: String): Seq[Op]

  /** Untimed passes an untraced run makes after the cold pass. */
  def warmupPasses: Int = 0

  /** Steady passes an untraced run makes at least; their median is `wall_s`. */
  def steadyPasses: Int = 3

  /** Input scans timed by the traced run (sources layer). */
  def scans(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)]

  /** Output checks after the timed passes. `fps` holds each op's
    * fingerprint from the passes; `dump(op, path)` executes an op
    * untimed, writes its output as parquet at `path` and returns its
    * fingerprint (or "error: ..."; the failure is already counted).
    * Returns failures, plus the oracle comparisons still to run. */
  def check(spark: SparkSession, dir: String, work: String, seed: Long,
      fps: Map[String, String], dump: (Op, String) => String): (Seq[String], Seq[OracleCheck])

  /** Tables of the inputs, for sizes. */
  def inputPaths(dir: String): Seq[String]
}

object Workloads {

  def apply(name: String, data: String): Workload = name match {
    case "gridmr_wordcount" => GridmrWordcount
    case "llm_dedup"        => LlmDedup
    case "registry_sweep"   => new RegistrySweep(data)
    case other              => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def writeCorpus(spark: SparkSession, c: Gen.Corpus, path: String, parts: Int): Unit =
    Gen.writeParquet(Gen.frame(spark, c.spec.docs, parts, Gen.DocumentSchema)(c.row), path)

  private[perfbench] def writeEmbeddings(spark: SparkSession, e: Gen.Embeddings, path: String, parts: Int): Unit =
    Gen.writeParquet(Gen.frame(spark, e.spec.vectors, parts, Gen.EmbeddingSchema)(e.row), path)

  def sizeMb(path: String): Double = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(path)) / 1e6
  }

  private[perfbench] def parts(spark: SparkSession): Int = spark.sparkContext.defaultParallelism
}

/** The paper's golden job, four ways, over one Zipf corpus. */
object GridmrWordcount extends Workload {
  def spec = Gen.CorpusSpec(docs = 16000, vocab = 30000, zipfS = 1.05,
    minTokens = 60, maxTokens = 160, nearDupShare = 0.0, exactDupShare = 0.0)
  val ShardMb = 4

  /** The reference's map and reduce UDFs as awk programs over the
    * `key\tvalue` stdin/stdout contract. */
  val AwkMap = Seq("awk",
    """{ s = tolower($0); gsub(/[^a-z0-9]+/, " ", s); n = split(s, w, " "); for (i = 1; i <= n; i++) print w[i] "\t1" }""")
  val AwkReduce = Seq("awk", "-F\t",
    """{ c[$1] += $2 } END { for (k in c) printf "%s\t%d\n", k, c[k] }""")

  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Any] = {
    import spark.implicits._
    val c = new Gen.Corpus(seed, spec)
    Workloads.writeCorpus(spark, c, s"$dir/documents.parquet", Workloads.parts(spark))
    TextIO.writeShards(spark.read.parquet(s"$dir/documents.parquet").select("text").as[String],
      s"$dir/shards", ShardMb)
    Map("docs" -> spec.docs, "vocab" -> spec.vocab, "zipf_s" -> spec.zipfS,
      "tokens_per_doc" -> s"${spec.minTokens}-${spec.maxTokens}",
      "parquet_mb" -> Workloads.sizeMb(s"$dir/documents.parquet"),
      "text_mb" -> Workloads.sizeMb(s"$dir/shards"),
      "text_shards" -> Option(new File(s"$dir/shards").list()).map(_.count(_.startsWith("part-"))).getOrElse(0))
  }

  def inputPaths(dir: String): Seq[String] = Seq(s"$dir/documents.parquet", s"$dir/shards")

  private def lines(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    Tables.documents(spark, dir).select("text").as[String]
  }

  private def asCounts(pairs: Dataset[(String, String)]): DataFrame =
    pairs.toDF("word", "cnt").select(col("word"), col("cnt").cast("long").as("cnt"))

  private val job = MapReduceJob(MapReduceJob.tokenizeMap, MapReduceJob.sumLongs)

  def ops(spark: SparkSession, dir: String): Seq[Op] = {
    import spark.implicits._
    Seq(
      Op.registered(spark, dir, "wordcount"),
      Op("mr_wordcount", () => asCounts(job.run(lines(spark, dir)))),
      Op("mr_pipe_awk", () => {
        val out = MapReduceJob.runPipe(TextIO.readLines(spark, s"$dir/shards", ShardMb),
          AwkMap, AwkReduce, spark.conf.get("spark.sql.shuffle.partitions").toInt)
        asCounts(spark.createDataset(out).map { l =>
          val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
        })
      }),
      Op("mr_sink", () => job.run(lines(spark, dir)),
        ds => TextIO.writeTabbed(ds.asInstanceOf[Dataset[(String, String)]], s"$dir/out_tabbed")))
  }

  def scans(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)] = Seq(
    "documents" -> (() => Tables.documents(spark, dir)),
    "shards" -> (() => TextIO.readLines(spark, s"$dir/shards", ShardMb).toDF()))

  def check(spark: SparkSession, dir: String, work: String, seed: Long,
      fps: Map[String, String], dump: (Op, String) => String): (Seq[String], Seq[OracleCheck]) = {
    import spark.implicits._
    val bag = fps.get("wordcount")
    val mismatched = Seq("mr_wordcount", "mr_pipe_awk").filter(n => fps.get(n) != bag)
      .map(n => s"$n: (word, count) bag ${fps.get(n)} differs from wordcount's $bag")
    val sunk = Fingerprint.of(asCounts(TextIO.readLines(spark, s"$dir/out_tabbed").map { l =>
      val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
    }))
    val sink = if (bag.contains(sunk)) Nil else Seq(s"mr_sink: written bag $sunk differs from wordcount's $bag")
    val empty = if (bag.contains("0")) Seq("wordcount: empty result") else Nil
    (mismatched ++ sink ++ empty, Nil)
  }
}

/** Near-duplicate detection and ANN over a planted corpus and planted
  * embeddings; the functions layer's sketches and vector kernels do
  * the work. */
object LlmDedup extends Workload {
  def corpus(docs: Int) = Gen.CorpusSpec(docs = docs, vocab = 20000, zipfS = 1.05,
    minTokens = 60, maxTokens = 140, nearDupShare = 0.08, exactDupShare = 0.04)
  def vectors(n: Int) = Gen.EmbeddingSpec(vectors = n, dim = 64, nearDupShare = 0.05, noise = 0.25)
  val Docs = 6000
  val Vectors = 2400
  val CheckDocs = 400
  val CheckVectors = 120
  val OpNames = Seq("dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_embedding", "ann_ivf")

  /** Its passes are still JIT-compiling after the cold one: the first
    * three after it took 10.5, 9.3 and 8.9 s (medians over ten seeds). */
  override def warmupPasses: Int = 1

  private def write(spark: SparkSession, dir: String, seed: Long, docs: Int, vecs: Int): Unit = {
    val p = Workloads.parts(spark)
    Workloads.writeCorpus(spark, new Gen.Corpus(seed, corpus(docs)), s"$dir/documents.parquet", p)
    Workloads.writeEmbeddings(spark, new Gen.Embeddings(seed, vectors(vecs)), s"$dir/embeddings.parquet", p)
  }

  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Any] = {
    write(spark, dir, seed, Docs, Vectors)
    val c = corpus(Docs)
    val v = vectors(Vectors)
    Map("docs" -> c.docs, "vocab" -> c.vocab, "zipf_s" -> c.zipfS,
      "near_dup_share" -> c.nearDupShare, "exact_dup_share" -> c.exactDupShare,
      "vectors" -> v.vectors, "dim" -> v.dim, "vector_near_dup_share" -> v.nearDupShare,
      "vector_noise" -> v.noise,
      "documents_mb" -> Workloads.sizeMb(s"$dir/documents.parquet"),
      "embeddings_mb" -> Workloads.sizeMb(s"$dir/embeddings.parquet"),
      "check_docs" -> CheckDocs, "check_vectors" -> CheckVectors)
  }

  def inputPaths(dir: String): Seq[String] = Seq(s"$dir/documents.parquet", s"$dir/embeddings.parquet")

  def ops(spark: SparkSession, dir: String): Seq[Op] = OpNames.map(Op.registered(spark, dir, _))

  def scans(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)] = Seq(
    "documents" -> (() => Tables.documents(spark, dir)),
    "embeddings" -> (() => Tables.embeddings(spark, dir)))

  /** The oracles are all-pairs, so they run on a reduced instance of
    * the same generators and seed. */
  def check(spark: SparkSession, dir: String, work: String, seed: Long,
      fps: Map[String, String], dump: (Op, String) => String): (Seq[String], Seq[OracleCheck]) = {
    val small = s"$work/check_in"
    write(spark, small, seed, CheckDocs, CheckVectors)
    val checks = ops(spark, small).flatMap { op =>
      val out = s"$work/check_out/${op.name}"
      if (dump(op, out).startsWith("error:")) None
      else Some(OracleCheck(op.name, out, small, SparkEntry.oracleSql(op.name)))
    }
    (Nil, checks)
  }
}

/** A fixed slice of the registry over a seeded row permutation of the
  * t2 correctness tables (sf0.01): per-op overhead, summed over many
  * ops.
  *
  * The list is fixed by rule: the first two operators (by name) of
  * every module in `SparkEntry.namedModules`, plus the ops cited as
  * per-op cost references: q1, q18, pagerank, agg_approx_distinct
  * (whose full materialization costs far more than its `count()`)
  * and stream_join (which drains a stream checkpoint). */
final class RegistrySweep(data: String) extends Workload {
  val Cited = Seq("q1", "q18", "pagerank", "agg_approx_distinct", "stream_join")

  def opNames: Seq[String] =
    (SparkEntry.namedModules.flatMap(_._2.keys.toSeq.sorted.take(2)) ++ Cited).distinct

  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  def generate(spark: SparkSession, dir: String, seed: Long): Map[String, Any] = {
    new File(dir).mkdirs()
    val rows = TableNames.map(t => Gen.permuteFile(s"$data/$t.parquet", s"$dir/$t.parquet", seed))
    Map("tables" -> TableNames.size, "source" -> "sf0.01", "rows" -> rows.sum,
      "input_mb" -> TableNames.map(t => Workloads.sizeMb(s"$dir/$t.parquet")).sum,
      "ops" -> opNames.size)
  }

  def inputPaths(dir: String): Seq[String] = TableNames.map(t => s"$dir/$t.parquet")

  def ops(spark: SparkSession, dir: String): Seq[Op] = opNames.map(Op.registered(spark, dir, _))

  def scans(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)] =
    TableNames.map(t => t -> (() => spark.read.parquet(s"$dir/$t.parquet")))

  /** One pass per op is not enough here: a steady pass takes longer
    * than the run's `seconds`. */
  override def steadyPasses: Int = 1

  /** Each op runs once more, untimed, and its output is compared with
    * the registered DuckDB oracle over the same tables; its fingerprint
    * must equal the timed passes'. */
  def check(spark: SparkSession, dir: String, work: String, seed: Long,
      fps: Map[String, String], dump: (Op, String) => String): (Seq[String], Seq[OracleCheck]) = {
    val results = ops(spark, dir).filter(op => fps.contains(op.name)).map { op =>
      val out = s"$work/check_out/${op.name}"
      (op.name, out, dump(op, out))
    }
    val drift = results.collect { case (n, _, fp) if !fp.startsWith("error:") && fp != fps(n) =>
      s"$n: check run fingerprint $fp differs from the timed passes' ${fps(n)}" }
    (drift, results.collect { case (n, out, fp) if !fp.startsWith("error:") =>
      OracleCheck(n, out, dir, SparkEntry.oracleSql(n)) })
  }
}
