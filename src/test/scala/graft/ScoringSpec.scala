package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.er.{Blocking, Mentions, Scoring}
import graft.functions.{FastLevenshteinExpr, JaroWinklerExpr, SortedLongJaccardExpr}
import graft.synth.Synth

/** The block-local pair kernel against brute force: each candidate pair
  * is scored exactly once, with the same values the SQL expressions give. */
class ScoringSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  private val corpora = Seq((80L, 11L, 6), (60L, 23L, 4), (100L, 37L, 8)) // (pages, seed, domains)
  private val configs = Seq(
    "default" -> Blocking.Config(),
    "maxBlock=8" -> Blocking.Config(maxBlock = 8))

  /** The pair universe as a self-join would build it: every (a < b)
    * sharing a block, deduplicated, scored by the SQL expressions under
    * the match rule (jw ≥ 0.92 with 0.6·jw + 0.4·jaccard ≥ 0.80, or
    * jaccard ≥ 0.60). */
  private def bruteForce(keyed: DataFrame): DataFrame = {
    val l = keyed.select(col("bkey"), col("id").as("a"), col("ns").as("ns_a"),
      col("ctx").as("ctx_a"), col("gold").as("gold_a"))
    val r = keyed.select(col("bkey"), col("id").as("b"), col("ns").as("ns_b"),
      col("ctx").as("ctx_b"), col("gold").as("gold_b"))
    l.join(r, Seq("bkey")).where(col("a") < col("b")).dropDuplicates("a", "b")
      .withColumn("jw", JaroWinklerExpr.jaro_winkler(col("ns_a"), col("ns_b")))
      .withColumn("jaccard", SortedLongJaccardExpr.sorted_long_jaccard(col("ctx_a"), col("ctx_b")))
      .withColumn("score", lit(0.6) * col("jw") + lit(0.4) * col("jaccard"))
      .withColumn("is_match",
        (col("jw") >= 0.92 && col("score") >= 0.80) || col("jaccard") >= 0.60)
      .withColumn("lev", when(col("is_match"),
        FastLevenshteinExpr.fast_levenshtein(col("ns_a"), col("ns_b"))).otherwise(lit(-1)))
      .select("a", "b", "gold_a", "gold_b", "jw", "lev", "jaccard", "score", "is_match")
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  test("property: scoreFused scores each candidate pair once, equal to the deduplicated self-join") {
    for ((nPages, seed, nDomains) <- corpora; (name, bcfg) <- configs) {
      val mentions = Mentions.fromPages(Synth.pages(spark, nPages, seed, nDomains)).cache()
      val keyed = Blocking.keyedWithAttrs(mentions, bcfg).cache()
      val got = rows(Scoring.scoreFused(keyed))
      val want = rows(bruteForce(keyed))
      val tag = s"seed $seed, $name"
      val repeats = got.size - got.map(r => (r.getLong(0), r.getLong(1))).distinct.size
      assert(repeats == 0, s"$tag: $repeats pairs emitted more than once")
      val (nGot, nWant) = (got.size, want.size)
      assert(nGot == nWant, s"$tag: $nGot scored pairs vs $nWant candidates")
      val firstDiff = got.zip(want).find { case (g, w) => g != w }
      assert(firstDiff.isEmpty, s"$tag: kernel row vs brute-force row $firstDiff")
      // the fixture exercises attribution: some pairs share several blocks
      val joined = keyed.as("l").join(keyed.as("r"), Seq("bkey"))
        .where(col("l.id") < col("r.id")).count()
      assert(joined > want.size, s"$tag: no pair shares two blocks")
      if (name == "maxBlock=8")
        assert(keyed.where(col("bkey").contains("#")).count() > 0, s"$tag: no block was sub-bucketed")
      keyed.unpersist(); mentions.unpersist()
    }
  }

  test("keyedWithAttrs: thousands of hot keys cost one hashed lookup per key, built map-side") {
    val mentions = Mentions.fromPages(Synth.pages(spark, 2400, 901L)).cache()
    val hotCfg = Blocking.Config(maxBlock = 2)
    val nHot = Blocking.keyed(mentions).groupBy("key").count()
      .where(col("count") > hotCfg.maxBlock).count()
    assert(nHot > 1000, s"fixture has only $nHot hot keys")
    val keyed = Blocking.keyedWithAttrs(mentions, hotCfg)
    val p = keyed.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"block lists are not built map-side from the mentions:\n$p")
    // Blocking time must not grow with the hot-key count: a lookup that
    // scans the hot table per key (a map column read by a lambda) costs
    // O(keys x hot keys), ~15x the default config's time on this fixture.
    def secs(cfg: Blocking.Config): Double = (0 until 2).map { _ =>
      val t0 = System.nanoTime()
      Blocking.keyedWithAttrs(mentions, cfg)
        .agg(sum(hash(col("bkey"), col("id"), col("bkeys")).cast("long"))).head()
      (System.nanoTime() - t0) / 1e9
    }.min
    val (cold, hot) = (secs(Blocking.Config()), secs(hotCfg))
    assert(hot <= 3 * cold + 2, f"$nHot hot keys: $hot%.2f s vs $cold%.2f s with the default config")
    mentions.unpersist()
  }
}
