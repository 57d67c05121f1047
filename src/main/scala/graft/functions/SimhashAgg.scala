package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash as a typed imperative aggregate.
  *
  * Folds (token-hash, weight) rows into a 64-lane signed counter
  * buffer; `eval` packs the counter signs into the fingerprint long
  * (counter ≥ 0 ⇒ bit set). The vote and pack steps are
  * [[SimhashKernel]]'s, shared with the one-row [[Simhash]]
  * expression, which is what `dedup_simhash` runs: its tokens sit in
  * one row, so they need no group-by.
  *
  * Why an imperative aggregate instead of 64 conditional `sum`s: the
  * declarative version generates a 64-expression aggregate whose
  * codegen/compile cost dominated the query (~4 s at sf0.1 for 260k
  * rows), and every extra lane widens the aggregation buffer row.
  * This buffer is one `Array[Int]`, updates are a tight loop, and
  * Catalyst still plans partial+final (ObjectHashAggregate), so the
  * shuffle carries one 256-byte buffer per doc per partition — the
  * property that matters at 100 TB.
  */
case class SimhashAgg(
    hash: Expression,
    weight: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(hash, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_agg"

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val h = hash.eval(input)
    val w = weight.eval(input)
    if (h != null && w != null)
      SimhashKernel.vote(buf, h.asInstanceOf[Long], w.asInstanceOf[Long].toInt)
    buf
  }

  override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
    var j = 0
    while (j < 64) { b1(j) += b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Int]): Any = java.lang.Long.valueOf(SimhashKernel.pack(buf))

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 4)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(n: Int): SimhashAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SimhashAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression =
    copy(hash = cs(0), weight = cs(1))
}

object SimhashAgg {
  /** Aggregate column: simhash of (token-hash, weight) rows. */
  def simhash_agg(hash: Column, weight: Column): Column =
    ColumnBridge.column(
      SimhashAgg(ColumnBridge.expression(hash), ColumnBridge.expression(weight))
        .toAggregateExpression())
}
