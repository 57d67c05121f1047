package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The one-row SimHash kernel, [[Simhash]], against the pipeline it
  * replaced in `dedup_simhash`: tokens exploded to (doc, token) rows,
  * counted, hashed through `md5 → hex → substring → conv`, and folded
  * by the [[SimhashAgg]] group-by, then chunk-joined with a pair
  * distinct. That pipeline lives on here as the reference. */
class SimhashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The replaced token hash: md5 hex chars 1–8 as the high 32 bits,
    * 9–16 as the low 32. */
  private def md5Hash64(tok: Column): Column = {
    val m = md5(tok.cast("binary"))
    val hi = conv(substring(m, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(m, 9, 8), 16, 10).cast("long")
    shiftleft(hi, 32).bitwiseOR(lo)
  }

  /** The replaced (doc_id, simhash) table. */
  private def referenceSimhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(TextFunctions.tokenize(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("w"))
      .withColumn("h", md5Hash64(col("tok")))
      .groupBy("doc_id")
      .agg(SimhashAgg.simhash_agg(col("h"), col("w")).as("simhash"))

  /** The replaced pair step: 4×16-bit chunk join, pair distinct, then
    * the hamming ≤ 3 filter. */
  private def referencePairs(sh: DataFrame): DataFrame = {
    val chunks = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk_key"))
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk_key") === col("y.chunk_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** SimHash of a token list with an independent MD5 and lane fold. */
  private def reference(tokens: Seq[String]): Long = {
    val lanes = new Array[Int](64)
    for (t <- tokens) {
      val h = ByteBuffer.wrap(MessageDigest.getInstance("MD5").digest(t.getBytes(UTF_8))).getLong
      for (j <- 0 until 64) lanes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
    }
    (0 until 64).foldLeft(0L)((r, j) => if (lanes(j) >= 0) r | (1L << j) else r)
  }

  private def texts(xs: Seq[String]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(xs, 2))(Encoders.STRING).toDF("s")

  private def longs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  private val codePoint: Gen[Int] = Gen.frequency(
    6 -> Gen.choose(0, 127),
    2 -> Gen.choose(0x80, 0xFFFF),
    1 -> Gen.choose(0x10000, 0x10FFFF))

  private val unicodeText: Gen[String] = Gen.frequency(
    3 -> Gen.listOf(codePoint).map(cps => new String(cps.toArray, 0, cps.size)),
    1 -> Gen.alphaNumStr,
    1 -> org.scalacheck.Arbitrary.arbString.arbitrary)

  private def check(prop: Prop, runs: Int): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(runs), prop)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("property: the MD5 prefix equals the md5 → hex → conv chain on arbitrary Unicode") {
    check(Prop.forAll(Gen.listOfN(32, unicodeText)) { xs =>
      val chain = texts(xs).select(md5Hash64(col("s"))).collect().map(_.getLong(0)).toSeq
      val kernel = xs.map(s => SimhashKernel.md5Prefix64(UTF8String.fromString(s)))
      Prop(chain == kernel) :| s"input ${xs.map(_.codePoints().toArray.mkString("[", ",", "]"))}"
    }, runs = 10)
  }

  test("whole-fixture simhashes and pairs equal the replaced group-by pipeline") {
    // the oracle fixtures, under $HOME/testdata like every spec's
    for (dir <- Seq("sf0.001", "sf0.01").map(sf => s"${sys.env("HOME")}/testdata/$sf")) {
      val want = referenceSimhashes(graft.sources.Tables.documents(spark, dir))
      assert(longs(Dedup.simhashes(spark, dir)) === longs(want), dir)
      val pairs = triples(Dedup.dedupSimhash(spark, dir))
      assert(pairs.nonEmpty, dir)
      assert(pairs === triples(referencePairs(want)), dir)
    }
  }

  test("documents without tokens get no fingerprint and no pair") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_simhash").toString
    try {
      import spark.implicits._
      // three token-less documents share the no-vote fingerprint, so
      // without the token-count filter they would pair at hamming 0
      Seq((1L, "!!! ???"), (2L, null), (3L, "..."), (4L, "Hello, world"), (5L, "hello world!"))
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      assert(Dedup.simhashes(spark, tmp).select("doc_id").collect().map(_.getLong(0)).sorted ===
        Array(4L, 5L))
      assert(triples(Dedup.dedupSimhash(spark, tmp)) === Seq((4L, 5L, 0L)))
      assert(longs(Dedup.simhashes(spark, tmp)) ===
        longs(referenceSimhashes(spark.read.parquet(s"$tmp/documents.parquet"))))
    } finally new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
  }

  /** `simhash(tokenize(s))` per input, in input order. */
  private def viaExpression(xs: Seq[String], codegen: Boolean): Seq[Long] = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = texts(xs).select(SimhashKernel.simhash(TextFunctions.tokenize(col("s"))))
      val wscg = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      assert(wscg.nonEmpty == codegen, df.queryExecution.executedPlan.toString)
      df.collect().toSeq.map(_.getLong(0))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("null and token-less input fingerprint as no votes, on both eval paths") {
    val in = Seq(null, "", " !? ", "a")
    val want = Seq(-1L, -1L, -1L, reference(Seq("a")))
    assert(viaExpression(in, codegen = true) === want)
    assert(viaExpression(in, codegen = false) === want)
  }

  test("property: codegen and interpreted evaluation equal the reference fold") {
    check(Prop.forAll(Gen.listOfN(16, unicodeText)) { xs =>
      val want = xs.map(s => reference(TextFunctions.tokenize(s).toSeq))
      Prop(viaExpression(xs, codegen = true) == want && viaExpression(xs, codegen = false) == want)
    }, runs = 10)
  }
}
