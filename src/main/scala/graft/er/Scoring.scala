package graft.er

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.struct
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FastLevenshteinExpr, JaroWinklerExpr, SortedLongJaccardExpr}

/** Pairwise scoring (SURVEY.md §2.4 J8): Jaro-Winkler + Levenshtein on the
  * normalized mention strings, token-Jaccard on the hashed paragraph
  * context sets.
  *
  * Plan shape: the Blocking.keyedWithAttrs rows go through the
  * BlockPairs kernel (one pair-scale shuffle on the block key, each
  * block's i < j pairs walked map-side). The verify calls the same static
  * kernels the SQL expressions call
  * (JaroWinklerExpr.similarity, SortedLongJaccardExpr.jaccard,
  * FastLevenshteinExpr.distance), so its rows are bit-identical to the
  * expression-built columns.
  */
object Scoring {

  // the match rule's thresholds and weights (see score)
  private val JwThreshold = 0.92
  private val ScoreThreshold = 0.80
  private val JaccardOnlyThreshold = 0.60
  private val WJw = 0.6
  private val WJaccard = 0.4

  /** Standard Jaro-Winkler similarity (public algorithm; Winkler prefix
    * boost p=0.1 over at most 4 chars). */
  def jaroWinkler(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val len1 = s1.length
    val len2 = s2.length
    if (len1 == 0 || len2 == 0) return 0.0
    val matchDist = math.max(math.max(len1, len2) / 2 - 1, 0)
    val m1 = new Array[Boolean](len1)
    val m2 = new Array[Boolean](len2)
    var matches = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - matchDist)
      val hi = math.min(len2 - 1, i + matchDist)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val transpositions = t / 2
    val jaro = (matches.toDouble / len1 + matches.toDouble / len2 +
      (matches - transpositions).toDouble / matches) / 3.0
    var prefix = 0
    val maxPrefix = math.min(4, math.min(len1, len2))
    while (prefix < maxPrefix && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  /** A Blocking.keyedWithAttrs row's scoring attributes. */
  final case class Attrs(ns: String, ctx: Array[Long], gold: String)

  final case class ScoredPair(
      a: Long, b: Long, gold_a: String, gold_b: String,
      jw: Double, lev: Int, jaccard: Double, score: Double, is_match: Boolean)

  /** Fused blocking+scoring plan — the scale path. Input is
    * Blocking.keyedWithAttrs output; output columns (a, b, gold_a, gold_b,
    * jw, lev, jaccard, score, is_match), one row per candidate pair
    * (a < b, sharing at least one block), scored once in its least common
    * block by the BlockPairs kernel — consumers need no pair-id dedupe. */
  def scoreFused(keyed: DataFrame): DataFrame = {
    import keyed.sparkSession.implicits._
    BlockPairs.pairs[Attrs, Decoded, ScoredPair](keyed, struct("ns", "ctx", "gold"))(
      new Decoded(_))((x, y) => Some(score(x, y))).toDF()
  }

  /** A mention's scoring attributes, decoded once per block, not per pair. */
  private final class Decoded(a: Attrs) {
    val gold: String = a.gold
    val ns: UTF8String = UTF8String.fromString(a.ns)
    val ctx: ArrayData = UnsafeArrayData.fromPrimitiveArray(a.ctx)
  }

  private def score(
      mx: BlockPairs.Member[Decoded], my: BlockPairs.Member[Decoded]): ScoredPair = {
    val (x, y) = (mx.payload, my.payload)
    val jw = JaroWinklerExpr.similarity(x.ns, y.ns)
    val jaccard = SortedLongJaccardExpr.jaccard(x.ctx, y.ctx)
    val score = WJw * jw + WJaccard * jaccard
    val isMatch = (jw >= JwThreshold && score >= ScoreThreshold) ||
      jaccard >= JaccardOnlyThreshold
    // levenshtein is informational (not part of the match rule) — computed
    // for matches only, -1 elsewhere. FastLevenshteinExpr, not the
    // built-in: matched pairs are overwhelmingly identical or
    // near-identical surfaces, and the built-in's full two-array DP on them
    // dominated the scaling bench's scored aggregate
    val lev = if (isMatch) FastLevenshteinExpr.distance(x.ns, y.ns) else -1
    ScoredPair(mx.id, my.id, x.gold, y.gold, jw, lev, jaccard, score, isMatch)
  }
}
