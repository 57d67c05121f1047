package graft.mr

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.functions.TextFunctions

/** The `key\tvalue` wire codec of the reference platform.
  *
  * Contract (reference `cpp/worker/src/mapreduce/mapper.cc:87–90` and
  * README.md:220): a map-output line is split at the FIRST tab into
  * `(key, rest-of-line)`; a line with no tab is silently dropped. The
  * value may itself contain tabs.
  */
object TabCodec {
  def decode(line: String): Option[(String, String)] = {
    val i = line.indexOf('\t')
    if (i < 0) None else Some((line.substring(0, i), line.substring(i + 1)))
  }
  def encode(key: String, value: String): String = key + "\t" + value
}

/** GridMR-parity MapReduce job over Spark (SURVEY.md §7.2 step 1).
  *
  * Reference dataflow (SURVEY.md §3.1): scan text shards → pipe each
  * through a user map binary emitting `key\tvalue` lines → hash-
  * partition by key into R partitions (`mapper.cc:91–93`) → unsorted
  * concat per partition (`reducer.cc:56–66`) → pipe through a user
  * reduce binary → concat outputs. Here: `flatMap` → project
  * `(h = xxhash64(k), k, v)` → hash-repartition on `h` → sort each
  * partition on the one `LongType` column `h` (Spark's radix sort: no
  * key string is ever compared) → stream each run of equal `h` through
  * [[HashRunReduce]]. Equal keys are co-located and every key is
  * reduced once with all of its values, the guarantee the reference
  * relies on (it promises no key order either); unlike it, the sort
  * spills to disk instead of buffering partitions in memory, and a
  * key's values are never held in memory at once.
  *
  * Scale notes (100 TB): `run` shuffles every mapped pair — exactly
  * the reference's behavior. For algebraic reducers prefer the
  * declarative form (`TextOps.wordcount`: a DataFrame `groupBy().agg`)
  * so Catalyst inserts a partial aggregate before the shuffle; on
  * wordcount-like workloads that shrinks shuffle bytes by orders of
  * magnitude. R maps to `spark.sql.shuffle.partitions`, not
  * a hard-coded reducer count.
  */
final case class MapReduceJob(
    map: String => IterableOnce[(String, String)],
    reduce: (String, Iterator[String]) => IterableOnce[(String, String)]) {

  /** Faithful run: every mapped pair crosses the shuffle (like the
    * reference, which has no combiner — SURVEY.md §4). Result is an
    * unordered bag of (key, value) pairs. */
  def run(input: Dataset[String]): Dataset[(String, String)] = {
    val enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    val r = reduce // avoid capturing `this` in the closure
    input.flatMap(map)(enc)
      .select(xxhash64(col("_1")).as("h"), col("_1").as("k"), col("_2").as("v"))
      .repartition(col("h"))
      .sortWithinPartitions("h")
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING))
      .mapPartitions(rows => new HashRunReduce(rows, r))(enc)
  }
}

/** Reduces `(h, k, v)` rows sorted on `h = hash(k)`, streaming.
  *
  * Each run of equal `h` belongs to its first key, whose values stream
  * lazily into `reduce`; a row of the run with a different key is a
  * 64-bit hash collision and goes to a per-run stash grouped by key,
  * each stashed key reduced after the first. So every key is reduced
  * exactly once with all of its values whether or not hashes are
  * unique, and without a collision nothing is buffered. The reducer's
  * output is streamed too; values it leaves unread are drained before
  * the next key. Keys compare with `==`, so null keys group together.
  */
private[mr] final class HashRunReduce(
    rows: Iterator[(Long, String, String)],
    reduce: (String, Iterator[String]) => IterableOnce[(String, String)])
    extends Iterator[(String, String)] {

  private val in = rows.buffered
  private var run: Run = null
  private var collided: Iterator[(String, ArrayBuffer[String])] = Iterator.empty
  private var out: Iterator[(String, String)] = Iterator.empty

  /** The first key's values in the run of `h` that `first` opens. */
  private final class Run(h: Long, key: String, first: String) extends Iterator[String] {
    /** The run's other keys, in arrival order, with their values. */
    val stash = mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]
    private var pending = first
    private var hasPending = true
    def hasNext: Boolean = {
      while (!hasPending && in.hasNext && in.head._1 == h) {
        val (_, k, v) = in.next()
        if (k == key) { pending = v; hasPending = true }
        else stash.getOrElseUpdate(k, ArrayBuffer.empty) += v
      }
      hasPending
    }
    def next(): String = {
      if (!hasNext) throw new NoSuchElementException("next on an exhausted key's values")
      hasPending = false
      val v = pending
      pending = null
      v
    }
  }

  def hasNext: Boolean = {
    while (!out.hasNext) {
      if (run != null) {
        run.foreach(_ => ())
        collided = run.stash.iterator
        run = null
      }
      if (collided.hasNext) {
        val (k, vs) = collided.next()
        out = reduce(k, vs.iterator).iterator
      } else if (in.hasNext) {
        val (h, k, v) = in.next()
        run = new Run(h, k, v)
        out = reduce(k, run).iterator
      } else return false
    }
    true
  }

  def next(): (String, String) =
    if (hasNext) out.next() else throw new NoSuchElementException("next on an exhausted reduce")
}

object MapReduceJob {

  /** The reference's example reduce UDF, as a reusable reducer:
    * sum values as long, silently dropping non-numeric values
    * (`cpp/worker/reduce.cc:10–23`, `std::stoll` failure → skip). */
  val sumLongs: (String, Iterator[String]) => Iterator[(String, String)] =
    (key, values) => {
      var sum = 0L
      var any = false
      values.foreach { v =>
        // std::stoll semantics: parse leading integer, skip on failure
        stollPrefix(v) match {
          case Some(n) => sum += n; any = true
          case None    => ()
        }
      }
      if (any) Iterator((key, sum.toString)) else Iterator.empty
    }

  /** `std::stoll`-like parse: optional sign + leading digits; trailing
    * garbage ignored; no digits → None. */
  def stollPrefix(s: String): Option[Long] = {
    var i = 0
    val n = s.length
    while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
    var sign = 1L
    if (i < n && (s.charAt(i) == '-' || s.charAt(i) == '+')) {
      if (s.charAt(i) == '-') sign = -1L
      i += 1
    }
    var j = i
    var acc = 0L
    while (j < n && s.charAt(j).isDigit) { acc = acc * 10 + (s.charAt(j) - '0'); j += 1 }
    if (j == i) None else Some(sign * acc)
  }

  /** The reference's example map UDF (`cpp/worker/map.cc:12–21`):
    * lowercase, non-alphanumeric → space, whitespace-split, emit
    * `(word, "1")` — the [[graft.functions.Tokenize]] kernel, so the
    * MapReduce and declarative wordcounts share one tokenizer. */
  val tokenizeMap: String => Iterator[(String, String)] =
    line => TextFunctions.tokenize(line).iterator.map(w => (w, "1"))

  /** Literal binary-contract variant of the reference job: pipes text
    * lines through external commands over stdin/stdout, exactly the
    * worker's popen contract (O3/O8). Map output lines are decoded
    * with the first-tab rule, hash-partitioned into `nReducers`
    * partitions, re-encoded, and each partition is piped through the
    * reduce command (which sees the unsorted concatenation of its
    * partition — `reducer.cc:56–66`). */
  def runPipe(
      input: Dataset[String],
      mapCmd: Seq[String],
      reduceCmd: Seq[String],
      nReducers: Int): RDD[String] = {
    val mapped = input.rdd
      .pipe(mapCmd)
      .flatMap(l => TabCodec.decode(l))
    mapped
      .partitionBy(new HashPartitioner(nReducers))
      .map { case (k, v) => TabCodec.encode(k, v) } // preserves partitions
      .pipe(reduceCmd)
  }
}
