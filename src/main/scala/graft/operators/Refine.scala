package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The filter-and-refine skeleton of the dedup and vector-search
  * families: generate candidates from bucket collisions, each pair
  * once, verify them exactly, then keep by threshold or per-key
  * top-k. It is the partition/filter → exact-refine split of Odyssey
  * (VLDB 2023) and REPOSE (ICDE 2021).
  *
  * The blocks cover the candidate and keep stages; exact scoring stays
  * with each operator, because the score (cosine, lattice L2, Jaccard
  * over re-derived shingles, hamming) is what distinguishes them.
  *
  * Sites that stay bespoke, and why:
  *  - `neighborGraph`'s topM drops duplicate pairs with a lag over its
  *    rank window before the keep;
  *  - rank-1 argmax picks filter `= 1` and keep-flag columns keep every
  *    row, so neither is a top-k keep;
  *  - `dedupFuzzy`, `simjoinPrefix` and the PQ/ADC candidate code are
  *    later migrations. */
private[operators] object Refine {
  import graft.functions.VectorFunctions.first_shared

  /** Id pairs of two bucket-tagged frames that share a bucket, each
    * pair exactly once: `x ⋈ y` on both `bucket` index and key
    * columns, filtered by `pred` over (x id, y id) — `<` for unordered
    * self-join pairs, `=!=` for ordered ones, none for a two-sided
    * join — and projected by `out`. The sides are aliased `x` and `y`,
    * so `pred` and `out` may also read any other column of either side
    * as `col("x.c")` / `col("y.c")`.
    *
    * Ownership instead of a pair distinct: every row also carries its
    * id's whole key array (`bucket._3`), and a pair that meets in
    * several buckets is kept only from the first one it shares,
    * `first_shared(x.keys, y.keys) = x.index`. So the join emits each
    * pair once and no aggregate folds duplicates back. Precondition:
    * each id has one key array, and on each of its rows
    * `keys[index] = key`. */
  def bucketPairs(x: DataFrame, y: DataFrame, bucket: Bucket, id: String,
      pred: Option[(Column, Column) => Column])(
      out: (Column, Column) => Seq[Column]): DataFrame = {
    val (xi, yi) = (col(s"x.$id"), col(s"y.$id"))
    val (idx, key, keys) = bucket
    val owned = col(s"x.$idx") === col(s"y.$idx") && col(s"x.$key") === col(s"y.$key") &&
      first_shared(col(s"x.$keys"), col(s"y.$keys")) === col(s"x.$idx")
    x.as("x").join(y.as("y"), pred.fold(owned)(p => owned && p(xi, yi)))
      .select(out(xi, yi): _*)
  }

  /** The (index, key, key-array) column names of a bucket frame. */
  type Bucket = (String, String, String)

  /** A bucket frame as [[bucketPairs]] takes it: each row of `df`,
    * whose key array is column `bucket._3`, once per key, with the
    * key's index and value in `bucket._1` and `bucket._2`. */
  def bucketRows(df: DataFrame, bucket: Bucket): DataFrame = {
    val (idx, key, keys) = bucket
    // explode a slice of the array, not the column itself: over a bare
    // column Spark infers a size(keys) > 0 filter and pushes it below
    // the projection that computes the keys, which then run twice
    df.select(col("*"), posexplode(slice(col(keys), 1, Int.MaxValue)))
      .withColumnsRenamed(Map("pos" -> idx, "col" -> key))
  }

  /** Ring-bounded bucket-mate pairs of a (vec_id, table_idx,
    * table_key) frame: members of a bucket, ranked by vec_id, pair
    * with their next `cap` successors only, and every pair comes out
    * in both directions as (table_idx, out._1, out._2). That bounds
    * candidates by tables × 2·cap × n, linear in n, where the plain
    * bucket self-join is Σ bucket² ~ n². Rows are not deduplicated
    * across tables: callers keep per-(table, query) winners first,
    * whose rank-limit collapses the ring mass before any exchange
    * because a query's per-table candidates all share its bucket
    * partition. */
  def ringPairs(tagged: DataFrame, cap: Int, out: (String, String)): DataFrame = {
    val (a, b) = out
    val wB = Window.partitionBy(col("table_idx"), col("table_key"))
      .orderBy(col("vec_id"))
    val ranked = tagged.withColumn("rn", row_number().over(wB))
    val fwdp = ranked.as("a").join(ranked.as("b"),
        col("a.table_idx") === col("b.table_idx") &&
          col("a.table_key") === col("b.table_key") &&
          col("b.rn") > col("a.rn") &&
          col("b.rn") <= col("a.rn") + cap)
      .select(col("a.table_idx").as("table_idx"),
        col("a.vec_id").as(a), col("b.vec_id").as(b))
    fwdp.union(fwdp.select(col("table_idx"), col(b).as(a), col(a).as(b)))
  }

  /** Per-key top-k keep: rows ranked 1..k by `order` within each `by`
    * key, the rank in column `rank` (a long when it is an output
    * column, like the oracles' BIGINT ranks). Callers end `order` with
    * an id so ties break deterministically. A rank filter directly
    * over the window lets Spark plan a partial WindowGroupLimit, which
    * cuts each partition to k rows per key before the exchange. */
  def topK(df: DataFrame, by: Seq[String], order: Seq[Column], k: Int, rank: String,
      longRank: Boolean): DataFrame = {
    val rn = row_number().over(Window.partitionBy(by.map(col): _*).orderBy(order: _*))
    df.withColumn(rank, if (longRank) rn.cast("long") else rn)
      .filter(col(rank) <= k)
  }
}
