package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, DotProduct, Tokenize}

/** SparkSessionExtensions registering the engine's custom Catalyst
  * expressions as SQL functions, so `spark.sql("... cosine_sim(a,b)
  * ...")` works alongside the Scala Column API. Install with:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * The conf form is what a cluster deployment uses — no code changes
  * on the driver application.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(cls: Class[_], name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(
      cls.getName, null, name, usage,
      /* arguments */ "", /* examples */ "", /* note */ "",
      /* group */ "misc_funcs", /* since */ "1.0.0", /* deprecated */ "",
      /* source */ "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info(classOf[CosineSimilarity], "cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      info(classOf[DotProduct], "dot_product", "dot_product(a, b) - dot product of two float arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("tokenize"),
      info(classOf[Tokenize], "tokenize", "tokenize(text) - lowercased [a-z0-9] runs of a string, as array<string>"),
      (args: Seq[Expression]) => Tokenize(args(0))))
  }
}
