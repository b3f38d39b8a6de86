package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's native Catalyst expressions — the
  * SparkSessionExtensions path for custom operators, so a cluster enables
  * them with
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`), and
  * plain SQL can call
  *   jaro_winkler(s1, s2), sorted_long_jaccard(a, b), cosine_sim(v1, v2).
  * `registerAll` applies the same registrations to an EXISTING session
  * (extensions only run at session construction).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  type Builder = Seq[Expression] => Expression

  private def binary(
      name: String,
      make: (Expression, Expression) => Expression,
      usage: String): (FunctionIdentifier, ExpressionInfo, Builder) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
        /* arguments */ "", /* examples */ "", /* note */ "",
        /* group */ "misc_funcs", /* since */ "", /* deprecated */ "",
        /* source */ "built-in"),
      (args: Seq[Expression]) => {
        if (args.length != 2)
          throw new IllegalArgumentException(s"$name expects 2 arguments, got ${args.length}")
        make(args(0), args(1))
      })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    binary("jaro_winkler", graft.functions.JaroWinklerExpr(_, _),
      "_FUNC_(s1, s2) - Jaro-Winkler similarity of two strings."),
    binary("sorted_long_jaccard", graft.functions.SortedLongJaccardExpr(_, _),
      "_FUNC_(a, b) - set Jaccard of two SORTED bigint arrays (merge pass)."),
    binary("cosine_sim", graft.functions.CosineExpr(_, _),
      "_FUNC_(v1, v2) - cosine similarity of two double arrays."))

  /** Register on an already-constructed session (tests, REPLs). */
  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
