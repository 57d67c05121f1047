package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val corpusSpec = Gen.CorpusSpec(docs = 400, vocab = 2000, zipfS = 1.05,
    minTokens = 20, maxTokens = 60, nearDupShare = 0.1, exactDupShare = 0.05)
  private val vecSpec = Gen.EmbeddingSpec(vectors = 200, dim = 16, nearDupShare = 0.1, noise = 0.25)

  private def digest(bytes: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    bytes.foreach(md.update)
    md.digest().map("%02x".format(_)).mkString
  }

  private def rowBytes(seed: Long): String = {
    val c = new Gen.Corpus(seed, corpusSpec)
    val e = new Gen.Embeddings(seed, vecSpec)
    digest((0L until corpusSpec.docs).iterator.map(c.row(_).toString.getBytes("UTF-8")) ++
      (0L until vecSpec.vectors).iterator.map(e.row(_).toString.getBytes("UTF-8")))
  }

  /** Content of every data file under `dir`, in part order (file names
    * carry a per-write id, so only the bytes are compared). */
  private def fileBytes(dir: File): String = {
    val parts = dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName.take(10))
    digest(parts.iterator.map(f => Files.readAllBytes(f.toPath)))
  }

  private def written(seed: Long): (String, String) = {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    try {
      Workloads.writeCorpus(spark, new Gen.Corpus(seed, corpusSpec), s"$dir/documents.parquet", 3)
      Workloads.writeEmbeddings(spark, new Gen.Embeddings(seed, vecSpec), s"$dir/embeddings.parquet", 3)
      (fileBytes(new File(s"$dir/documents.parquet")), fileBytes(new File(s"$dir/embeddings.parquet")))
    } finally Main.deleteTree(dir)
  }

  test("the same seed gives byte-identical rows, a different seed different ones") {
    assert(rowBytes(7) == rowBytes(7))
    assert(rowBytes(7) != rowBytes(8))
  }

  test("the same seed gives byte-identical written tables, a different seed different ones") {
    val a = written(7)
    assert(a == written(7))
    val b = written(8)
    assert(a._1 != b._1 && a._2 != b._2)
  }

  test("rows do not depend on how many partitions produce them") {
    val c = new Gen.Corpus(3, corpusSpec)
    def ids(parts: Int) = Gen.frame(spark, corpusSpec.docs, parts, Gen.DocumentSchema)(c.row)
    assert(Fingerprint.of(ids(1)) == Fingerprint.of(ids(5)))
  }

  test("planted duplicates: exact copies repeat their root's text, near copies differ in one token") {
    val c = new Gen.Corpus(5, corpusSpec)
    val ids = (1L until corpusSpec.docs).groupBy(c.kind)
    assert(ids(2).nonEmpty && ids(1).nonEmpty)
    ids(2).foreach(i => assert(c.text(i) == c.text(c.root(i))))
    ids(1).foreach { i =>
      val (a, b) = (c.tokens(i), c.tokens(c.root(i)))
      assert(a.length == b.length && a.zip(b).count { case (x, y) => x != y } == 1)
    }
  }

  test("a seeded permutation reorders rows, keeps the multiset, and repeats per seed") {
    val dir = Files.createTempDirectory("perfbench-perm").toFile
    try {
      Gen.writeParquet(spark.range(0, 500).selectExpr("id AS x", "cast(id AS string) AS s").coalesce(1),
        s"$dir/src")
      val src = new File(s"$dir/src").listFiles().find(_.getName.endsWith(".parquet")).get.toString
      def perm(seed: Long, name: String): Seq[Long] = {
        assert(Gen.permuteFile(src, s"$dir/$name.parquet", seed) == 500)
        spark.read.parquet(s"$dir/$name.parquet").collect().map(_.getLong(0)).toSeq
      }
      val a = perm(1, "a")
      assert(a.sorted == (0L until 500L) && a != a.sorted)
      assert(perm(2, "b") != a)
      assert(perm(1, "c") == a)
      assert(Files.readAllBytes(new File(s"$dir/a.parquet").toPath)
        .sameElements(Files.readAllBytes(new File(s"$dir/c.parquet").toPath)))
    } finally Main.deleteTree(dir)
  }

}
