package graft.sources

import org.apache.spark.sql.{Dataset, Encoders, SaveMode, SparkSession}

import graft.mr.TabCodec

/** Text source/sink parity with the reference platform (SURVEY.md §2.1
  * O1/O2/O10/O11).
  *
  * - Source: line-oriented UTF-8 text shards. One reference shard =
  *   one map task; here shard sizing maps to
  *   `spark.sql.files.maxPartitionBytes` (scoped to each read below), and a
  *   directory of shards reads as one Dataset.
  * - Sink: the reference concatenates reducer outputs to `final.txt`
  *   (`ControlServiceImpl.java:397–427`) because its only data plane
  *   is a shared POSIX FS. At scale a single concatenated file is an
  *   anti-pattern; the Spark-native equivalent is a partitioned text
  *   directory whose `_SUCCESS` marker plays the role of the
  *   reference's final.txt existence poll (`gridmr_submit.py:76–86`).
  */
object TextIO {

  /** Read a text file/directory of shards; `shardMb` mirrors the
    * reference's GRIDMR_CHUNK_SIZE_MB split sizing. `http(s)://` URLs
    * are accepted for reference O1 parity (its workers curl each
    * shard URL before mapping — cpp/worker/src/common/fs.cc:28-53):
    * one URL = one shard = one task, same as the reference's
    * shard-per-map-task contract. */
  def readLines(spark: SparkSession, path: String, shardMb: Int = 32): Dataset[String] =
    if (path.startsWith("http://") || path.startsWith("https://"))
      readHttpShards(spark, Seq(path))
    else {
      // the scan plans its splits when its RDD is built, so build it
      // under the shard size and give the session its setting back
      val key = "spark.sql.files.maxPartitionBytes"
      val prev = spark.conf.getAll.get(key)
      spark.conf.set(key, s"${shardMb}m")
      val lines = try spark.read.textFile(path).rdd
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      spark.createDataset(lines)(Encoders.STRING)
    }

  /** Fetch each shard URL inside its own task and emit its lines —
    * the Spark-native analogue of the reference's curl-per-shard
    * download. The URL list is tiny driver metadata; payload bytes
    * flow executor-side only, so a 1000-shard ingest spreads across
    * the cluster with no driver bottleneck. For recurring 100 TB
    * ingest, land shards on a distributed FS once and use the file
    * path (this is the compatibility path, not the steady state). */
  def readHttpShards(spark: SparkSession, urls: Seq[String]): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext
      .parallelize(urls, math.max(1, urls.size))
      .flatMap(url => fetchLines(url)))
  }

  /** One shard fetch: bounded timeouts (a hung server must fail the
    * task, not stall it forever) + 3 attempts with linear backoff for
    * TRANSIENT failures only — at 1000-shard scale flaky connections
    * are the norm and Spark's task-level retry would re-run the whole
    * partition for one of them, but a deterministic 4xx (bad URL
    * prefix) must fail immediately, not after 3 attempts of backoff.
    * The status code is checked explicitly so a redirect chain that
    * lands on an error/login page can never be ingested as data. */
  private def fetchLines(url: String, attempts: Int = 3): Vector[String] = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try {
        val conn = new java.net.URI(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(10000)
        conn.setReadTimeout(60000)
        val code = conn.getResponseCode
        if (code >= 200 && code < 300) {
          val src = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8")
          try return src.getLines().toVector
          finally src.close()
        } else if (code >= 400 && code < 500) {
          throw new java.io.FileNotFoundException(s"shard fetch HTTP $code (permanent): $url")
        } else {
          // 3xx not auto-followed (cross-protocol) or 5xx: transient-ish
          last = new java.io.IOException(s"shard fetch HTTP $code: $url")
          i += 1
          if (i < attempts) Thread.sleep(1000L * i)
        }
      } catch {
        case e: java.io.FileNotFoundException => throw e
        case e: java.io.IOException =>
          last = e
          i += 1
          if (i < attempts) Thread.sleep(1000L * i)
      }
    }
    throw new java.io.IOException(s"shard fetch failed after $attempts attempts: $url", last)
  }

  /** Line-safe sharded text write — the reference's
    * `split_input_file` (tools/gridmr_submit.py:22-52: ~N MB shards,
    * lines never split) as a sink property instead of a driver-side
    * pre-pass: the text sink is line-oriented by construction, and
    * `maxRecordsPerFile` (derived from a sampled mean line width)
    * caps each shard near the byte target. One small sampling job,
    * then a fully parallel write. */
  def writeShards(lines: Dataset[String], path: String, shardMb: Int = 32): Unit = {
    import org.apache.spark.sql.functions._
    // sample the HEAD OF EVERY PARTITION, not limit() (which reads
    // only the first partition and mis-sizes shards whenever the
    // dataset's head is unrepresentative); each task short-circuits
    // after 200 rows, so the stats job stays cheap at any scale
    val mean = lines.mapPartitions(_.take(200))(lines.encoder)
      .select(avg(length(col("value")) + 1))
      .collect()(0)
    val bytesPerLine = if (mean.isNullAt(0)) 64.0 else math.max(1.0, mean.getDouble(0))
    val maxRecords = math.max(1L, (shardMb.toLong * 1024 * 1024 / bytesPerLine).toLong)
    lines.write
      .option("maxRecordsPerFile", maxRecords)
      .mode(SaveMode.Overwrite).text(path)
  }

  /** Write (key, value) pairs as `key\tvalue` lines, partitioned, with
    * a `_SUCCESS` marker — the scale-correct final.txt. */
  def writeTabbed(pairs: Dataset[(String, String)], path: String): Unit = {
    import pairs.sparkSession.implicits._
    pairs.map(kv => TabCodec.encode(kv._1, kv._2))
      .write.mode(SaveMode.Overwrite).text(path)
  }
}
