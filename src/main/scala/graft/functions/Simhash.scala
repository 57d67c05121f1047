package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of one row's tokens, `simhash(tokens): bigint`, as a
  * native Catalyst expression with whole-stage codegen.
  *
  * Every token occurrence casts one unit vote in each of 64 lanes: +1
  * where its hash has the bit set, −1 where not; a lane ≥ 0 sets the
  * fingerprint bit ([[SimhashKernel.pack]]). Voting once per
  * occurrence gives the same lane sums as voting once per distinct
  * token with its count as weight, because the votes are linear in
  * the weight — so `simhash(tokenize(text))` equals the (doc, token)
  * count → [[SimhashAgg]] group-by it replaces, with no shuffle.
  *
  * It is total and never null: a null array, an empty one and null
  * elements cast no votes, and no votes pack to all bits set, as
  * [[SimhashAgg]] packs an empty buffer. Callers that must give a
  * document without tokens no fingerprint filter on the token count
  * (`Dedup.simhashes`). Never null also keeps the optimizer from
  * inferring an `isnotnull(simhash(...))` filter from a predicate
  * over the fingerprint and pushing it below the projection, which
  * would run the kernel twice.
  */
case class Simhash(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash"

  override def eval(input: InternalRow): Any =
    java.lang.Long.valueOf(SimhashKernel.fingerprint(child.eval(input).asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |final long ${ev.value} = graft.functions.SimhashKernel.fingerprint(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The SimHash arithmetic shared by the row kernel ([[Simhash]]) and
  * the aggregate ([[SimhashAgg]]). */
object SimhashKernel {

  private val Md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The token hash: the first 8 bytes of MD5(UTF-8 bytes of `s`) as a
    * big-endian long. Bit for bit this is `(conv(hex[0:8], 16, 10) <<
    * 32) | conv(hex[8:16], 16, 10)` over `md5(s)`'s hex digest, the
    * form the DuckDB oracle replays chunk-wise. */
  def md5Prefix64(s: UTF8String): Long = md5Prefix64(s, Md5.get())

  private def md5Prefix64(s: UTF8String, md: MessageDigest): Long = {
    s.getBaseObject match {
      case bytes: Array[Byte] =>
        md.update(bytes, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => md.update(s.getBytes)
    }
    val d = md.digest()
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
    h
  }

  /** Adds `w` to each lane where `h` has the bit set, `-w` elsewhere. */
  def vote(lanes: Array[Int], h: Long, w: Int): Unit = {
    var j = 0
    while (j < 64) {
      if (((h >>> j) & 1L) == 1L) lanes(j) += w else lanes(j) -= w
      j += 1
    }
  }

  /** The fingerprint of the lanes: bit j set where lane j ≥ 0. */
  def pack(lanes: Array[Int]): Long = {
    var r = 0L
    var j = 0
    while (j < 64) { if (lanes(j) >= 0) r |= (1L << j); j += 1 }
    r
  }

  /** The kernel: one unit vote per non-null token of `tokens` (none
    * for a null array). */
  def fingerprint(tokens: ArrayData): Long = {
    val md = Md5.get()
    val lanes = new Array[Int](64)
    val n = if (tokens == null) 0 else tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) vote(lanes, md5Prefix64(tokens.getUTF8String(i), md), 1)
      i += 1
    }
    pack(lanes)
  }

  /** Codegen'd SimHash over an `array<string>` column of tokens. */
  def simhash(tokens: Column): Column =
    ColumnBridge.column(Simhash(ColumnBridge.expression(tokens)))
}
