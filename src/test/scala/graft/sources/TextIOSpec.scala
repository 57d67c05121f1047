package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.mr.{MapReduceJob, TabCodec}

/** End-to-end reference-shaped job: text shards in → MR wordcount →
  * tab-separated partitioned output with _SUCCESS — the full O1→O10
  * dataflow of SURVEY.md §3.1 on Spark. */
class TextIOSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("text shards -> mr wordcount -> tabbed sink round-trips") {
    val tmp = Files.createTempDirectory("graft_textio").toString
    val in = s"$tmp/input"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(s"$in/input-001.txt"), "a b a\nc a\n")
    Files.writeString(Paths.get(s"$in/input-002.txt"), "b a!\n")

    val lines = TextIO.readLines(spark, in, shardMb = 1)
    val out = MapReduceJob(MapReduceJob.tokenizeMap, MapReduceJob.sumLongs).run(lines)
    TextIO.writeTabbed(out, s"$tmp/result")

    assert(Files.exists(Paths.get(s"$tmp/result/_SUCCESS")), "_SUCCESS marker")
    val got = TextIO.readLines(spark, s"$tmp/result")
      .collect().flatMap(TabCodec.decode).toMap
    assert(got === Map("a" -> "4", "b" -> "2", "c" -> "1"))
  }

  test("gzip-compressed text shards read transparently (codec by extension)") {
    // real corpora arrive compressed; Hadoop's codec-by-extension path
    // must feed the same wordcount dataflow byte-identically. Caveat
    // pinned here: .gz is NOT splittable — each file is one partition,
    // which is why shard SIZE discipline matters doubly at 100 TB.
    val tmp = Files.createTempDirectory("graft_gz").toString
    val raw = "a b a\nc a\nb a\n"
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$tmp/input-001.txt.gz"))
    gz.write(raw.getBytes("UTF-8")); gz.close()
    val lines = TextIO.readLines(spark, tmp).collect().sorted
    assert(lines.toSeq == raw.split("\n").toSeq.sorted)
    val counts = MapReduceJob(MapReduceJob.tokenizeMap, MapReduceJob.sumLongs)
      .run(TextIO.readLines(spark, tmp))
      .collect().toMap
    assert(counts == Map("a" -> "4", "b" -> "2", "c" -> "1"))
  }

  test("writeShards lands line-safe shards near the byte target and round-trips") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_shards").toString
    val lines = (1 to 20000).map(i => s"line-$i-" + ("x" * 90))
    TextIO.writeShards(lines.toDS().repartition(2), s"$tmp/out", shardMb = 1)
    val files = new java.io.File(s"$tmp/out").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
    assert(files.length >= 2, s"expected multiple ~1MB shards, got ${files.length}")
    // each shard near (under) the target; lines intact on read-back
    files.foreach(f => assert(f.length() <= 1200 * 1024, s"${f.getName}: ${f.length()}"))
    val got = TextIO.readLines(spark, s"$tmp/out").collect().toSet
    assert(got === lines.toSet)
  }

  test("readLines sizes splits by shardMb and leaves the session's setting as it was") {
    val tmp = Files.createTempDirectory("graft_split").toString
    val lines = (1 to 30000).map(i => f"line-$i%06d-" + ("y" * 100))
    Files.writeString(Paths.get(s"$tmp/input-001.txt"), lines.mkString("", "\n", "\n"))
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getAll.get(key)
    try {
      for (setting <- Seq(None, Some("64m"))) {
        setting.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val ds = TextIO.readLines(spark, tmp, shardMb = 1)
        assert(spark.conf.getAll.get(key) === setting, "readLines changed the session's split size")
        // ~3.1 MB in 1 MB splits; a scan under the session's own
        // setting reads the file as one split
        assert(ds.rdd.getNumPartitions >= 3, s"setting $setting")
        assert(spark.read.textFile(tmp).rdd.getNumPartitions === 1, s"setting $setting")
        assert(ds.collect().toSeq === lines)
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("http shard urls read like the reference's curl-per-shard path") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(body: String): HttpHandler = (ex: HttpExchange) => {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/shard1.txt", serve("a b a\nc a\n"))
    server.createContext("/shard2.txt", serve("b a!\n"))
    server.start()
    try {
      val port = server.getAddress.getPort
      val single = TextIO.readLines(spark, s"http://127.0.0.1:$port/shard1.txt")
      assert(single.collect().toSeq === Seq("a b a", "c a"))
      // multi-shard: one task per URL, same wordcount as the local path
      val lines = TextIO.readHttpShards(spark, Seq(
        s"http://127.0.0.1:$port/shard1.txt", s"http://127.0.0.1:$port/shard2.txt"))
      val out = MapReduceJob(MapReduceJob.tokenizeMap, MapReduceJob.sumLongs).run(lines)
        .collect().toMap
      assert(out === Map("a" -> "4", "b" -> "2", "c" -> "1"))
    } finally server.stop(0)
  }
}
