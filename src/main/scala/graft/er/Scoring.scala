package graft.er

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FastLevenshteinExpr, JaroWinklerExpr, SortedLongJaccardExpr}

/** Pairwise scoring (SURVEY.md §2.4 J8): Jaro-Winkler + Levenshtein on the
  * normalized mention strings, token-Jaccard on the hashed paragraph
  * context sets.
  *
  * Plan shape: the Blocking.keyedWithAttrs rows are co-partitioned by
  * block key (the one pair-scale shuffle) and sorted by (bkey, id); a
  * block-local kernel then walks each block's i < j pairs map-side. It
  * calls the same static kernels the SQL expressions call
  * (JaroWinklerExpr.similarity, SortedLongJaccardExpr.jaccard,
  * FastLevenshteinExpr.distance), so its rows are bit-identical to the
  * expression-built columns.
  */
object Scoring {

  final case class Config(
      jwThreshold: Double = 0.92,
      scoreThreshold: Double = 0.80,
      jaccardOnlyThreshold: Double = 0.60,
      wJw: Double = 0.6,
      wJaccard: Double = 0.4)

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

  /** One Blocking.keyedWithAttrs row, as the pair kernel reads it. */
  final case class KeyedRow(
      bkey: String, id: Long, ns: String, ctx: Array[Long], gold: String, bkeys: Array[String])

  final case class ScoredPair(
      a: Long, b: Long, gold_a: String, gold_b: String,
      jw: Double, lev: Int, jaccard: Double, score: Double, is_match: Boolean)

  /** Fused blocking+scoring plan — the scale path. Input is
    * Blocking.keyedWithAttrs output; output columns (a, b, gold_a, gold_b,
    * jw, lev, jaccard, score, is_match), one row per candidate pair
    * (a < b, sharing at least one block): a pair is scored only in its
    * LEAST COMMON block, the smallest bkey in both mentions' sorted block
    * lists. So no pair is scored twice and consumers need no pair-id
    * dedupe. The co-partitioning is the ONLY shuffle of pair-scale input;
    * a task holds one block (<= ~maxBlock rows, by sub-bucketing) and
    * streams its pairs. */
  def scoreFused(keyed: DataFrame, cfg: Config = Config()): DataFrame = {
    import keyed.sparkSession.implicits._
    // Explicit co-partitioning with a FIXED width: the kernel's cost is its
    // OUTPUT (pairs), which AQE cannot see — left to adaptive coalescing,
    // the ~MB-sized keyed input collapses into a couple of partitions and
    // the quadratic pair generation lands in one straggler task. A
    // user-specified repartition is exempt from AQE coalescing.
    val parts = keyed.sparkSession.sessionState.conf.numShufflePartitions
    keyed.select("bkey", "id", "ns", "ctx", "gold", "bkeys")
      .repartition(parts, col("bkey"))
      .sortWithinPartitions("bkey", "id")
      .as[KeyedRow]
      .mapPartitions(rows => new PairKernel(rows, cfg))
      .toDF()
  }

  /** A block member with its scoring attributes decoded once, not per pair;
    * `before` holds the member's blocks that sort before the current one. */
  private final class Member(r: KeyedRow) {
    val id: Long = r.id
    val gold: String = r.gold
    val ns: UTF8String = UTF8String.fromString(r.ns)
    val ctx: ArrayData = UnsafeArrayData.fromPrimitiveArray(r.ctx)
    val before: Array[String] = r.bkeys.takeWhile(_ != r.bkey)
  }

  /** True iff x and y share no block ordered before the current one, i.e.
    * the current block is their least common block. A merge walk over the
    * two sorted prefixes, in the order keyedWithAttrs sorted the lists in. */
  private def leastCommon(x: Member, y: Member): Boolean = {
    var i = 0
    var j = 0
    while (i < x.before.length && j < y.before.length) {
      val c = Mentions.CodePointOrdering.compare(x.before(i), y.before(j))
      if (c == 0) return false
      if (c < 0) i += 1 else j += 1
    }
    true
  }

  private def score(x: Member, y: Member, cfg: Config): ScoredPair = {
    val jw = JaroWinklerExpr.similarity(x.ns, y.ns)
    val jaccard = SortedLongJaccardExpr.jaccard(x.ctx, y.ctx)
    val score = cfg.wJw * jw + cfg.wJaccard * jaccard
    val isMatch = (jw >= cfg.jwThreshold && score >= cfg.scoreThreshold) ||
      jaccard >= cfg.jaccardOnlyThreshold
    // levenshtein is informational (not part of the match rule) — computed
    // for matches only, -1 elsewhere. FastLevenshteinExpr, not the
    // built-in: matched pairs are overwhelmingly identical or
    // near-identical surfaces, and the built-in's full two-array DP on them
    // dominated the scaling bench's scored aggregate
    val lev = if (isMatch) FastLevenshteinExpr.distance(x.ns, y.ns) else -1
    ScoredPair(x.id, y.id, x.gold, y.gold, jw, lev, jaccard, score, isMatch)
  }

  /** Streams the scored pairs of a (bkey, id)-sorted partition, holding
    * one block at a time. */
  private final class PairKernel(rows: Iterator[KeyedRow], cfg: Config)
      extends Iterator[ScoredPair] {
    private val in = rows.buffered
    private val block = ArrayBuffer.empty[Member]
    private var i = 0
    private var j = 1
    private var pending: ScoredPair = _

    def hasNext: Boolean = {
      if (pending == null) pending = advance()
      pending != null
    }

    def next(): ScoredPair = {
      if (!hasNext) throw new NoSuchElementException("no more scored pairs")
      val p = pending
      pending = null
      p
    }

    private def advance(): ScoredPair = {
      while (true) {
        if (j < block.length) {
          val x = block(i)
          val y = block(j)
          j += 1
          if (x.id < y.id && leastCommon(x, y)) return score(x, y, cfg)
        } else if (i + 2 < block.length) {
          i += 1
          j = i + 1
        } else if (in.hasNext) {
          block.clear()
          val key = in.head.bkey
          while (in.hasNext && in.head.bkey == key) block += new Member(in.next())
          i = 0
          j = 1
        } else return null
      }
      null
    }
  }
}
