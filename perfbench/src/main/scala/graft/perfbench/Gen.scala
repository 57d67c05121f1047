package graft.perfbench

import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators.
  *
  * Every row is a pure function of (seed, id): a row never depends on
  * which partition or in which order it is produced, so the same seed
  * gives byte-identical rows at any parallelism, and a different seed
  * gives different ones.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** An independent random stream per (seed, stream, id). */
  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 31 + stream) ^ id))

  /** Corpus shape. Near-duplicates copy a root document and replace one
    * token at a position fixed by the root, so any two members of a
    * cluster differ in at most one token; exact duplicates copy the
    * root verbatim. */
  final case class CorpusSpec(
      docs: Int, vocab: Int, zipfS: Double,
      minTokens: Int, maxTokens: Int,
      nearDupShare: Double, exactDupShare: Double)

  private val Langs = Array("en", "en", "en", "es", "zh", "de", "fr")
  private val NSources = 20

  final class Corpus(val seed: Long, val spec: CorpusSpec) extends Serializable {
    import spec._

    /** Distinct words: a random 1-6 letter prefix plus the word's rank.
      * The vocabulary is the same for every seed; the seed draws the
      * documents. Token hashes (simhash votes, minhash bands) then do
      * not change with the seed, so neither does the candidate volume
      * beyond sampling noise. */
    @transient lazy val words: Array[String] = Array.tabulate(vocab) { w =>
      val r = rng(0, 1, w)
      val sb = new StringBuilder
      (0 until 1 + r.nextInt(6)).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
      sb.append(w).toString
    }

    /** Zipf(s) cumulative weights over word ranks. */
    @transient lazy val cdf: Array[Double] = {
      val c = new Array[Double](vocab)
      var acc = 0.0
      var i = 0
      while (i < vocab) { acc += 1.0 / math.pow(i + 1.0, zipfS); c(i) = acc; i += 1 }
      i = 0
      while (i < vocab) { c(i) /= acc; i += 1 }
      c
    }

    private def zipf(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }

    /** 0 = root document, 1 = near-duplicate, 2 = exact duplicate. */
    def kind(id: Long): Int = {
      if (id == 0) 0
      else {
        val u = rng(seed, 2, id).nextDouble()
        if (u < exactDupShare) 2 else if (u < exactDupShare + nearDupShare) 1 else 0
      }
    }

    /** Root of a duplicate: a uniformly drawn earlier id, followed to its root. */
    def root(id: Long): Long = {
      var p = rng(seed, 3, id).nextLong(id)
      while (kind(p) != 0) p = rng(seed, 3, p).nextLong(p)
      p
    }

    private def rootTokens(id: Long): Array[Int] = {
      val r = rng(seed, 4, id)
      Array.fill(minTokens + r.nextInt(maxTokens - minTokens + 1))(zipf(r))
    }

    def tokens(id: Long): Array[Int] = kind(id) match {
      case 0 => rootTokens(id)
      case 2 => rootTokens(root(id))
      case _ =>
        val p = root(id)
        val t = rootTokens(p)
        val pos = rng(seed, 5, p).nextInt(t.length)
        val r = rng(seed, 6, id)
        var w = zipf(r)
        while (w == t(pos)) w = (w + 1) % vocab
        t(pos) = w
        t
    }

    /** Sentence-cased text with punctuation, so tokenizing has work to do. */
    def text(id: Long): String = {
      val t = tokens(id)
      val sb = new StringBuilder
      var i = 0
      while (i < t.length) {
        val w = words(t(i))
        if (i == 0 || sb.last == '.') {
          if (i > 0) sb += ' '
          sb += w.head.toUpper; sb ++= w.tail
        } else { sb += ' '; sb ++= w }
        if (i % 13 == 12) sb += (if (i % 26 == 25) '.' else ',')
        i += 1
      }
      sb += '.'
      sb.toString
    }

    def row(id: Long): Row = {
      val r = rng(seed, 7, id)
      val txt = text(id)
      Row(id, txt, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(NSources)}", txt.length.toLong)
    }
  }

  val DocumentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Embedding shape: Gaussian roots, near-duplicates = root + noise. */
  final case class EmbeddingSpec(vectors: Int, dim: Int, nearDupShare: Double, noise: Double)

  final class Embeddings(val seed: Long, val spec: EmbeddingSpec) extends Serializable {
    import spec._

    def isDup(id: Long): Boolean = id > 0 && rng(seed, 10, id).nextDouble() < nearDupShare

    def root(id: Long): Long = {
      var p = rng(seed, 11, id).nextLong(id)
      while (isDup(p)) p = rng(seed, 11, p).nextLong(p)
      p
    }

    private def gaussian(id: Long, stream: Long, scale: Double): Array[Double] = {
      val r = rng(seed, stream, id)
      Array.fill(dim)(r.nextGaussian() * scale)
    }

    def vector(id: Long): Array[Float] = {
      val v =
        if (!isDup(id)) gaussian(id, 12, 1.0)
        else gaussian(root(id), 12, 1.0).zip(gaussian(id, 13, noise)).map { case (a, b) => a + b }
      v.map(_.toFloat)
    }

    def row(id: Long): Row =
      Row(id, vector(id).toSeq, rng(seed, 14, id).nextInt(10))
  }

  val EmbeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  /** Rows 0 until n, produced in `parts` partitions by `row`. */
  def frame(spark: SparkSession, n: Long, parts: Int, schema: StructType)(row: Long => Row): DataFrame = {
    val rdd = spark.sparkContext.range(0L, n, 1L, parts).mapPartitions(_.map(row))
    spark.createDataFrame(rdd, schema)
  }

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Writes a seeded row permutation of the parquet file `src` to the
    * file `dst`, with the same physical schema: a Fisher-Yates shuffle
    * of its rows on the driver, no Spark job. Returns the row count. */
  def permuteFile(src: String, dst: String, seed: Long): Int = {
    val conf = new Configuration()
    val schema = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(src), conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    val rows = scala.collection.mutable.ArrayBuffer[Group]()
    val reader = ParquetReader.builder(new GroupReadSupport(), new Path(src)).withConf(conf).build()
    try {
      var g = reader.read()
      while (g != null) { rows += g; g = reader.read() }
    } finally reader.close()
    val r = rng(seed, 20, 0)
    var i = rows.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = rows(i); rows(i) = rows(j); rows(j) = t
      i -= 1
    }
    val w = ExampleParquetWriter.builder(new Path(dst)).withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach(w.write) finally w.close()
    rows.length
  }


}
