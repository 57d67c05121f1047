package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-insensitive output fingerprint: the row count plus the sums
  * of the two 32-bit halves of each row's 64-bit hash. Sums commute,
  * so neither row order nor partitioning can change it, and the
  * halves keep every sum exact (no overflow below 2^31 rows).
  *
  * [[observed]] gathers it during the op's own action through
  * `Dataset.observe`, so checking an output costs no extra job.
  */
object Fingerprint {

  private def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`")) // maps are not hashable
        case _          => col(s"`${f.name}`")
      }
    }: _*)

  private def aggs(df: DataFrame): Seq[Column] = {
    val h = rowHash(df)
    Seq(count(lit(1)).as("n"),
      sum(h.bitwiseAND(0xFFFFFFFFL)).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  private def format(n: Long, lo: Any, hi: Any): String =
    if (n == 0) "0" else f"$n:${lo.asInstanceOf[Long]}%x:${hi.asInstanceOf[Long]}%x"

  /** `ds` with the fingerprint attached; read it after an action. */
  def observed[T](ds: Dataset[T]): (Dataset[T], Observation) = {
    val obs = Observation()
    val a = aggs(ds.toDF())
    (ds.observe(obs, a.head, a.tail: _*), obs)
  }

  def read(obs: Observation): String = {
    val m = obs.get
    format(m("n").asInstanceOf[Long], m("lo"), m("hi"))
  }

  /** The fingerprint computed by a job of its own. */
  def of(df: DataFrame): String = {
    val a = aggs(df)
    val r: Row = df.agg(a.head, a.tail: _*).head()
    format(r.getLong(0), r.get(1), r.get(2))
  }
}
