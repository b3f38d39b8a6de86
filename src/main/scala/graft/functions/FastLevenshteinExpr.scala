package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact Levenshtein distance, tuned for the match-pair population the
  * scoring stage feeds it (mostly identical or near-identical strings):
  *   1. equality short-circuit (identical normalized surfaces are the
  *      bulk of within-block matches — distance 0 without touching a DP);
  *   2. common prefix/suffix trimming (distance-preserving — a typo pair
  *      leaves a 1-2 byte middle for the DP);
  *   3. single rolling-array byte DP for ASCII;
  *   4. non-ASCII falls back to UTF8String.levenshteinDistance — the
  *      SAME implementation Spark's built-in levenshtein() calls, so the
  *      result is bit-identical to the built-in for every input (the
  *      er_scored_pairs oracle hashes these values).
  * Replaces the built-in in Scoring's pair kernel: the built-in's
  * per-call two-array allocation and full m×n DP dominated the scaling
  * bench's scored aggregate (measured 50.9 s → the full agg vs 6.6 s
  * with jw alone at 2 cores, sf0.1×2 corpus). */
case class FastLevenshteinExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "fast_levenshtein"
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override protected def nullSafeEval(l: Any, r: Any): Any =
    FastLevenshteinExpr.distance(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.FastLevenshteinExpr.distance($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FastLevenshteinExpr {

  def distance(a: UTF8String, b: UTF8String): Int = {
    if (a.equals(b)) return 0
    val na = a.numBytes()
    val nb = b.numBytes()
    // byte DP is only char-exact for ASCII; otherwise use Spark's own
    if (na != a.numChars() || nb != b.numChars())
      return a.levenshteinDistance(b)
    // trim the common prefix and suffix — edit distance is invariant
    val minN = math.min(na, nb)
    var p = 0
    while (p < minN && a.getByte(p) == b.getByte(p)) p += 1
    var s = 0
    while (s < minN - p && a.getByte(na - 1 - s) == b.getByte(nb - 1 - s)) s += 1
    val m = na - p - s
    val n = nb - p - s
    if (m == 0) return n
    if (n == 0) return m
    val prev = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      var diag = prev(0)
      prev(0) = i
      val ca = a.getByte(p + i - 1)
      j = 1
      while (j <= n) {
        val tmp = prev(j)
        var v = if (ca == b.getByte(p + j - 1)) diag else diag + 1
        if (tmp + 1 < v) v = tmp + 1
        if (prev(j - 1) + 1 < v) v = prev(j - 1) + 1
        prev(j) = v
        diag = tmp
        j += 1
      }
      i += 1
    }
    prev(n)
  }

  def fast_levenshtein(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      FastLevenshteinExpr(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }
}
