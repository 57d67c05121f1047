package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.mr.MapReduceJob
import graft.operators.{TextAnalysis, TextOps}

/** The one tokenizer, [[Tokenize]], in every form a call site uses —
  * the expression under whole-stage codegen and interpreted, its SQL
  * registration, the String kernel and the MapReduce map UDF — pinned
  * to the DuckDB oracles' rule on non-ASCII input, and checked against
  * a per-code-point reference on arbitrary Unicode. The oracle
  * fixtures are ASCII-only, so the oracle gate alone cannot see a
  * divergence here. */
class TokenizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** DuckDB 1.0.0's answers for
    * `list_filter(string_split(regexp_replace(lower(s), '[^a-z0-9]+', ' ', 'g'), ' '), t -> t <> '')`. */
  private val DuckDb: Seq[(String, Seq[String])] = Seq(
    "ab\u212Acd x\u0130y" -> Seq("abkcd", "xiy"),  // KELVIN SIGN, dotted capital I
    "\u0130stanbul"        -> Seq("istanbul"),
    "Stra\u00DFe \u01C5emal" -> Seq("stra", "e", "emal"), // ß, titlecase ǅ
    "\u03A3\u0391\u03A3 \uFF21bc" -> Seq("bc"))           // ΣΑΣ, fullwidth Ａ

  /** The rule, one code point at a time: lowercase with the simple
    * mapping, keep `[a-z0-9]`, anything else ends a token. */
  private def reference(s: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    s.codePoints().forEach { cp =>
      val l = Character.toLowerCase(cp)
      if (l >= 'a' && l <= 'z' || l >= '0' && l <= '9') cur.append(l.toChar)
      else if (cur.nonEmpty) { out += cur.toString; cur.clear() }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** An RDD-backed frame, so the projection really runs in a task
    * (a local relation would be folded by the optimizer). */
  private def texts(xs: Seq[String]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(xs, 2))(Encoders.STRING).toDF("s")

  /** `tokenize(s)` per input, in input order; None for a null result. */
  private def viaExpression(xs: Seq[String], codegen: Boolean): Seq[Option[Seq[String]]] = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = texts(xs).select(TextFunctions.tokenize(col("s")))
      val wscg = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      assert(wscg.nonEmpty == codegen, df.queryExecution.executedPlan.toString)
      df.collect().toSeq.map(r => Option(r.getSeq[String](0)).map(_.toSeq))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("every tokenizer form gives DuckDB's answer on non-ASCII text") {
    val (in, want) = DuckDb.unzip
    assert(viaExpression(in, codegen = true) === want.map(Some(_)))
    assert(viaExpression(in, codegen = false) === want.map(Some(_)))
    for ((s, w) <- DuckDb) {
      assert(TextFunctions.tokenize(s).toSeq === w, s)
      assert(TextAnalysis.tokenize(s).toSeq === w, s)
      assert(MapReduceJob.tokenizeMap(s).toSeq === w.map(_ -> "1"), s)
      assert(reference(s) === w, s)
    }
    val exploded = texts(in).select(TextOps.tokenize(col("s"))).collect().map(_.getString(0))
    assert(exploded.toSeq.sorted === want.flatten.sorted)
  }

  test("sentence_dedup and readability lower like DuckDB on non-ASCII text") {
    // String.toLowerCase turns U+0130 (dotted capital I) into "i"
    // plus a combining dot, which splits a sentence key ("senti nel")
    // and a vowel run ("i", "a"); DuckDB 1.0.0 lowers it to "i".
    // Expected rows are the two oracles' SQL run in DuckDB over these
    // three documents.
    val tmp = java.nio.file.Files.createTempDirectory("graft_tok_ops").toString
    try {
      import spark.implicits._
      Seq((1L, "a", "Sent\u0130nel. x"), (2L, "a", "sentinel! y"), (3L, "b", "\u0130a"))
        .toDF("doc_id", "source", "text").write.parquet(s"$tmp/documents.parquet")
      val sd = TextAnalysis.sentenceDedup(spark, tmp)
        .select("doc_id", "n_sents", "n_boiler", "boiler_q").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
      assert(sd === Seq((1L, 2L, 1L, 524288L), (2L, 2L, 1L, 524288L), (3L, 1L, 0L, 0L)))
      val rd = TextAnalysis.readability(spark, tmp)
        .select("source", "n_docs", "n_words", "n_sents", "n_vgroups", "wps_q", "vpw_q").collect()
        .map(r => (r.getString(0), (1 to 6).map(r.getLong))).toSeq.sortBy(_._1)
      assert(rd === Seq(
        "a" -> Seq(2L, 4L, 2L, 6L, 2097152L, 1572864L),
        "b" -> Seq(1L, 1L, 1L, 1L, 1048576L, 1048576L)))
    } finally {
      graft.CacheScope.release()
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("null gives null; empty and all-separator text give []") {
    val in = Seq(null, "", " ", "!!! ??? ...", "\u00E9\u00DF\u4E2D", "\uD83D\uDE00")
    val want = None +: Seq.fill(in.size - 1)(Some(Seq.empty[String]))
    assert(viaExpression(in, codegen = true) === want)
    assert(viaExpression(in, codegen = false) === want)
    in.tail.foreach(s => assert(TextFunctions.tokenize(s).isEmpty, s))
  }

  test("the SQL function equals the Column form") {
    TextFunctions.registerSql(spark)
    val in = DuckDb.map(_._1) ++ Seq("The quick, brown FOX -- 42x!", "", null)
    texts(in).createOrReplaceTempView("tokenize_spec_texts")
    val sql = spark.sql("SELECT s, tokenize(s) AS t FROM tokenize_spec_texts")
    val column = texts(in).select(col("s"), TextFunctions.tokenize(col("s")).as("t"))
    assert(sql.schema === column.schema)
    def rows(df: DataFrame) = df.collect().map(r => (Option(r.getString(0)), Option(r.getSeq[String](1))))
      .toSeq.sortBy(_._1.toString)
    assert(rows(sql) === rows(column))
    assert(column.schema("t").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false))
  }

  /** Code points that stress the rule: ASCII (letters, digits,
    * punctuation, controls), the two non-ASCII code points that lower
    * into `[a-z0-9]` and their neighbours, the rest of the BMP
    * (lone surrogates included) and supplementary planes. */
  private val codePoint: Gen[Int] = Gen.frequency(
    6 -> Gen.choose(0, 127),
    2 -> Gen.oneOf(0x130, 0x131, 0x212A, 0x212B, 0xDF, 0x1E9E, 0x1C5, 0x3A3, 0xFF21, 0x69, 0x4B),
    2 -> Gen.choose(0x80, 0xFFFF),
    1 -> Gen.choose(0x10000, 0x10FFFF))

  private val unicodeText: Gen[String] = Gen.frequency(
    4 -> Gen.listOf(codePoint).map(cps => new String(cps.toArray, 0, cps.size)),
    1 -> Gen.asciiPrintableStr,
    1 -> Gen.alphaNumStr,
    1 -> org.scalacheck.Arbitrary.arbString.arbitrary)

  private def check(prop: Prop, runs: Int): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(runs), prop)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("property: the expression, on both eval paths, equals the per-code-point reference") {
    check(Prop.forAll(Gen.listOfN(24, unicodeText)) { xs =>
      val want = xs.map(s => Some(reference(s)))
      val cg = viaExpression(xs, codegen = true)
      val interp = viaExpression(xs, codegen = false)
      Prop(cg == want && interp == want) :| s"input ${xs.map(_.codePoints().toArray.mkString("[", ",", "]"))}"
    }, runs = 20)
  }

  test("property: the String kernel and tokenizeMap equal the reference") {
    check(Prop.forAll(unicodeText) { s =>
      val want = reference(s)
      TextFunctions.tokenize(s).toSeq == want &&
        MapReduceJob.tokenizeMap(s).toSeq == want.map(_ -> "1")
    }, runs = 2000)
  }

  test("property: on arbitrary bytes the kernel tokenizes what a UTF-8 decode reads") {
    check(Prop.forAll(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))) { bs =>
      val bytes = bs.toArray
      val a = TextFunctions.tokens(UTF8String.fromBytes(bytes))
      val got = (0 until a.numElements()).map(a.getUTF8String(_).toString)
      got == reference(new String(bytes, UTF_8))
    }, runs = 2000)
  }
}
