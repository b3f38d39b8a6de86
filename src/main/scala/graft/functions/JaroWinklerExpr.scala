package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Jaro-Winkler similarity.
  *
  * Versus the Scala-UDF version this participates in whole-stage codegen
  * (no ScalaUDF conversion barrier, no closure serialization, null
  * handling folded into the generated code). The generated code calls the
  * static scorer directly on UTF8String bytes.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerExpr.similarity(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinklerExpr.similarity($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinklerExpr {
  /** Standard Jaro-Winkler (public algorithm), shared by interpreted and
    * generated code paths. */
  def similarity(s1: String, s2: String): Double =
    graft.er.Scoring.jaroWinkler(s1, s2)

  /** Allocation-free hot path on UTF8String: for ASCII strings up to 64
    * bytes the match bookkeeping lives in two long bitmasks and characters
    * are read byte-wise — no String decode, no boolean arrays. Non-ASCII
    * or long inputs fall back to the exact String implementation (the
    * per-pair allocation there is acceptable off the fast path). */
  def similarity(a: UTF8String, b: UTF8String): Double = {
    val n1 = a.numBytes()
    val n2 = b.numBytes()
    if (n1 > 64 || n2 > 64 || n1 != a.numChars() || n2 != b.numChars())
      return similarity(a.toString, b.toString)
    if (a.equals(b)) return 1.0
    if (n1 == 0 || n2 == 0) return 0.0
    val matchDist = math.max(math.max(n1, n2) / 2 - 1, 0)
    var m1 = 0L
    var m2 = 0L
    var matches = 0
    var i = 0
    while (i < n1) {
      val ca = a.getByte(i)
      val lo = math.max(0, i - matchDist)
      val hi = math.min(n2 - 1, i + matchDist)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if ((m2 & (1L << j)) == 0L && ca == b.getByte(j)) {
          m1 |= 1L << i; m2 |= 1L << j; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < n1) {
      if ((m1 & (1L << i)) != 0L) {
        while ((m2 & (1L << k)) == 0L) k += 1
        if (a.getByte(i) != b.getByte(k)) t += 1
        k += 1
      }
      i += 1
    }
    val transpositions = t / 2
    val jaro = (matches.toDouble / n1 + matches.toDouble / n2 +
      (matches - transpositions).toDouble / matches) / 3.0
    var prefix = 0
    val maxPrefix = math.min(4, math.min(n1, n2))
    while (prefix < maxPrefix && a.getByte(prefix) == b.getByte(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  def jaro_winkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      JaroWinklerExpr(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }
}
