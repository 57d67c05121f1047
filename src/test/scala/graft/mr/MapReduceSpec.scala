package graft.mr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity tests for the GridMR-semantics MR library (SURVEY.md §5):
  * first-tab codec, silent-drop rules, R-invariance, and agreement
  * between the MR path and the declarative DataFrame path.
  */
class MapReduceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("TabCodec splits at FIRST tab only; value may contain tabs") {
    assert(TabCodec.decode("a\tb\tc") === Some(("a", "b\tc")))
    assert(TabCodec.decode("k\t") === Some(("k", "")))
    assert(TabCodec.decode("\tv") === Some(("", "v")))
  }

  test("TabCodec drops lines with no tab (mapper.cc:88)") {
    assert(TabCodec.decode("no tab here") === None)
    assert(TabCodec.decode("") === None)
  }

  test("stollPrefix matches std::stoll leading-parse semantics") {
    assert(MapReduceJob.stollPrefix("42") === Some(42L))
    assert(MapReduceJob.stollPrefix("  -7junk") === Some(-7L))
    assert(MapReduceJob.stollPrefix("+3") === Some(3L))
    assert(MapReduceJob.stollPrefix("x1") === None)
    assert(MapReduceJob.stollPrefix("") === None)
  }

  test("sumLongs drops non-numeric values (reduce.cc:15-18)") {
    val out = MapReduceJob.sumLongs("w", Iterator("1", "abc", "2", "3x")).toList
    assert(out === List(("w", "6"))) // 1 + 2 + 3 ("3x" parses as 3, "abc" dropped)
    assert(MapReduceJob.sumLongs("w", Iterator("abc")).toList === Nil)
  }

  test("MR wordcount equals declarative DataFrame wordcount") {
    import spark.implicits._
    val lines = Seq(
      "The quick brown fox; the quick dog!",
      "Dog dog DOG?",
      "tabs\tand spaces").toDS()
    val mr = MapReduceJob(MapReduceJob.tokenizeMap, MapReduceJob.sumLongs)
      .run(lines).collect().toMap
    val df = lines.toDF("text")
      .select(explode(split(lower(regexp_replace(col("text"), "[^a-zA-Z0-9]+", " ")), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1).toString).toMap
    assert(mr === df)
    assert(mr("dog") === "4")
  }

  test("result is invariant to the number of shuffle partitions (R)") {
    import spark.implicits._
    val lines = (1 to 500).map(i => s"word${i % 17} filler${i % 5}").toDS()
    val job = MapReduceJob(MapReduceJob.tokenizeMap, MapReduceJob.sumLongs)
    val base = job.run(lines).collect().toSet
    for (r <- Seq("1", "2", "13")) {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", r)
      try assert(job.run(lines).collect().toSet === base, s"R=$r")
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  test("property: run equals the groupByKey/flatMapGroups form at R in {1, 4, 7}, AQE on and off") {
    import org.apache.spark.sql.{Dataset, Encoders}
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    // the form `run` replaced: Spark's typed grouping, which sorts every
    // pair by its key string
    def reference(job: MapReduceJob, in: Dataset[String]): Dataset[(String, String)] = {
      val enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
      val r = job.reduce
      in.flatMap(job.map)(enc).groupByKey(_._1)(Encoders.STRING)
        .flatMapGroups((k: String, it: Iterator[(String, String)]) => r(k, it.map(_._2)).iterator)(enc)
    }
    // the map is the first-tab codec; a `\N` key stands for a null key
    val decode: String => Iterator[(String, String)] = l =>
      TabCodec.decode(l).iterator.map { case (k, v) => (if (k == "\\N") null else k, v) }
    val identityReduce: (String, Iterator[String]) => Iterator[(String, String)] =
      (k, vs) => vs.map(v => (k, v))
    val jobs = Seq("identity" -> MapReduceJob(decode, identityReduce),
      "sumLongs" -> MapReduceJob(decode, MapReduceJob.sumLongs))
    val keyChars = Gen.oneOf('a', 'b', 'Z', '0', ' ', 'é', 'ß', '日', '\u0130')
    val key = Gen.frequency(6 -> Gen.stringOf(keyChars).map(_.take(4)), 1 -> Gen.const(""),
      1 -> Gen.const("\\N"), 1 -> Gen.const("ünïcødé"), 1 -> Gen.const("🙂"))
    val value = Gen.frequency(4 -> Gen.choose(-50L, 50L).map(_.toString),
      1 -> Gen.const("x\t7"), 1 -> Gen.const("12\tjunk\t"), 1 -> Gen.alphaStr.map(_.take(3)))
    val lines = for {
      n <- Gen.choose(0, 150)
      ls <- Gen.listOfN(n, Gen.zip(Gen.frequency(2 -> Gen.const("hot"), 3 -> key), value))
    } yield ls.map { case (k, v) => TabCodec.encode(k, v) }
    def bag(xs: Array[(String, String)]) = xs.toSeq.groupBy(identity).map { case (x, g) => x -> g.size }
    def withConf[T](kvs: (String, String)*)(body: => T): T = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val prop = Prop.forAll(lines) { ls =>
      val in = ls.toDS().repartition(3)
      jobs.map { case (name, job) =>
        val want = bag(reference(job, in).collect())
        val checks = for (r <- Seq("1", "4", "7"); aqe <- Seq("true", "false")) yield {
          val got = withConf("spark.sql.shuffle.partitions" -> r, "spark.sql.adaptive.enabled" -> aqe)(
            bag(job.run(in).collect()))
          Prop(got == want) :| s"$name R=$r AQE=$aqe"
        }
        checks.reduce(_ && _)
      }.reduce(_ && _) :| ls.mkString("lines: [", " | ", "]")
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("map lines without a tab are dropped end-to-end") {
    import spark.implicits._
    val lines = Seq("a", "b", "a").toDS()
    // map emits one well-formed pair and one tab-less junk line,
    // decoded through the codec like runPipe does
    val job = MapReduceJob(
      map = l => TabCodec.decode(l + "\t1").iterator ++ TabCodec.decode("junk-no-tab").iterator,
      reduce = MapReduceJob.sumLongs)
    val out = job.run(lines).collect().toMap
    assert(out === Map("a" -> "2", "b" -> "1"))
  }

  test("runPipe: literal binary contract via stdin/stdout commands") {
    assume(new java.io.File("/bin/sh").exists())
    import spark.implicits._
    val lines = Seq("x y", "y z", "x x").toDS().repartition(2)
    // map: each token → "token<TAB>1"; reduce: awk sum-by-key
    val mapCmd = Seq("/bin/sh", "-c",
      """tr ' ' '\n' | sed -e 's/$/\t1/'""")
    val reduceCmd = Seq("/bin/sh", "-c",
      """awk -F'\t' '{s[$1]+=$2} END {for (k in s) print k"\t"s[k]}'""")
    val out = MapReduceJob.runPipe(lines, mapCmd, reduceCmd, nReducers = 3)
      .collect().flatMap(TabCodec.decode).toMap
    assert(out === Map("x" -> "3", "y" -> "2", "z" -> "1"))
  }
}
