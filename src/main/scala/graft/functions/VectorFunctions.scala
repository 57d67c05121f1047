package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XxHash64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Cosine similarity between two `ArrayType(FloatType)` columns, as a
  * native Catalyst expression with whole-stage codegen.
  *
  * This is the hot inner loop of similarity search / embedding dedup
  * (north-star ops; the reference has no vector surface — SURVEY.md
  * §2.2). A composition of built-ins (`aggregate(zip_with(...))`)
  * allocates a zipped array per row and walks it with generic lambda
  * dispatch; this expression compiles to a primitive float loop inside
  * the generated code, no allocation — the difference between ~GB/s
  * and ~100 MB/s per core on 100 TB of embeddings.
  *
  * Accumulation is double, in array-index order, matching DuckDB's
  * `list_cosine_similarity` on double lists — required for oracle
  * hash-equality. Null if inputs are null, lengths differ, or either
  * norm is zero.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val u = x.getFloat(i).toDouble
        val v = y.getFloat(i).toDouble
        dot += u * v; na += u * u; nb += v * v; i += 1
      }
      if (na == 0.0 || nb == 0.0) null
      else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val u = ctx.freshName("u")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $u = (double) $a.getFloat($i);
         |    final double $v = (double) $b.getFloat($i);
         |    $dot += $u * $v; $na += $u * $u; $nb += $v * $v;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two `ArrayType(FloatType)` columns (double
  * accumulation in index order), codegen'd. Exists because the
  * built-in alternative — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * is a higher-order-function chain that runs interpreted, allocating
  * a zipped array per row; measured ~10× slower than this loop on the
  * LSH hyperplane path. Null on length mismatch. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      java.lang.Double.valueOf(dot)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `first_shared(a, b)`: the smallest index `i` with `a[i] = b[i]`
  * over two `array<int>` or two `array<bigint>` columns, or −1 when
  * no index matches. Null elements match nothing. It is the ownership
  * test of a bucket join: two ids whose per-table key arrays are `a`
  * and `b` meet in every table where they share a key, and only the
  * meeting in table `first_shared(a, b)` keeps the pair
  * (`Refine.bucketPairs`). */
case class FirstShared(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "first_shared"

  private def longs: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(a, _), ArrayType(b, _)) if a == b && (a == IntegerType || a == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"first_shared takes two array<int> or two array<bigint>, not ${l.simpleString}, ${r.simpleString}")
  }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorFunctions.firstShared(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], longs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorFunctions.firstShared($a, $b, $longs)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** Codegen'd cosine similarity over two float-array columns. */
  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd dot product over two float-array columns. */
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** The kernel of [[FirstShared]]. */
  def firstShared(a: ArrayData, b: ArrayData, longs: Boolean): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) &&
          (if (longs) a.getLong(i) == b.getLong(i) else a.getInt(i) == b.getInt(i))) return i
      i += 1
    }
    -1
  }

  /** Codegen'd [[FirstShared]] over two int- or long-array columns. */
  def first_shared(a: Column, b: Column): Column =
    ColumnBridge.column(
      FirstShared(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** XxHash64 with an explicit seed — the functions-API `xxhash64`
    * pins seed=42; MinHash needs one independent hash per permutation.
    * Uses the same codegen'd Catalyst hash as the built-in. */
  def xxhash64Seeded(seed: Long, c: Column): Column =
    ColumnBridge.column(XxHash64(Seq(ColumnBridge.expression(c)), seed))

  /** Register cosine_sim/dot_product as SQL functions on a live
    * session (complement of `graft.plans.GraftExtensions`, which does
    * the same at session construction via spark.sql.extensions). */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    ColumnBridge.registerFunction(spark, "cosine_sim",
      args => CosineSimilarity(args(0), args(1)))
    ColumnBridge.registerFunction(spark, "dot_product",
      args => DotProduct(args(0), args(1)))
  }
}
