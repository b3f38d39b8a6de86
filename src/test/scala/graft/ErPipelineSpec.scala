package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.er.{Blocking, Mentions, PairEval, Scoring}
import graft.synth.Synth

/** End-to-end ER slice (SURVEY.md §7.2): synth pages → extract → mentions →
  * blocking → scoring → connected components → pairwise F1 vs the gold
  * entity clusters. The BASELINE.json metric demands F1 >= 0.99 on labeled
  * pairs at shared blocking keys. */
class ErPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  test("pipeline reaches pairwise F1 >= 0.99 on the synthetic corpus") {
    val pages = Synth.pages(spark, nPages = 400, seed = 42L, nDomains = 10)
    val mentions = Mentions.fromPages(pages).cache()
    val nMentions = mentions.count()
    assert(nMentions > 1000, s"expected >1000 mentions, got $nMentions")

    val (scored, clusters, eval) = PairEval.runPipeline(spark, mentions)
    assert(scored.count() > 0)
    assert(clusters.count() == nMentions)
    info(s"pairwise eval: tp=${eval.tp} fp=${eval.fp} fn=${eval.fn} " +
      f"P=${eval.precision}%.4f R=${eval.recall}%.4f F1=${eval.f1}%.4f")
    assert(eval.f1 >= 0.99, s"pairwise F1 ${eval.f1} below 0.99 target (tp=${eval.tp} fp=${eval.fp} fn=${eval.fn})")
  }

  test("hot-alias block exists and is correctly rejected by context scoring") {
    import org.apache.spark.sql.functions._
    val pages = Synth.pages(spark, nPages = 400, seed = 42L, nDomains = 10)
    val mentions = Mentions.fromPages(pages).cache()
    val hot = mentions.where(col("surface") === Synth.HotAlias)
    assert(hot.count() > 10, "hot alias mentions missing — skew fixture broken")
    assert(hot.select("gold_entity").distinct().count() > 1,
      "hot alias should span multiple entities")
    // cross-entity hot pairs share the exact-surface block but must not match
    val scored = Scoring.scoreFused(Blocking.keyedWithAttrs(mentions, Blocking.Config()))
    val hotIds = hot.select(col("mention_id")).collect().map(_.getLong(0)).toSet
    val hotScored = scored
      .where(col("a").isInCollection(hotIds) && col("b").isInCollection(hotIds))
      .where(col("gold_a") =!= col("gold_b"))
    val bad = hotScored.where(col("is_match")).count()
    assert(hotScored.count() > 0, "no cross-entity hot pairs scored")
    assert(bad == 0, s"$bad cross-entity hot-alias pairs wrongly matched")
  }

  test("clustering output is deterministic across partitionings") {
    val pages = Synth.pages(spark, nPages = 120, seed = 7L, nDomains = 5)
    val m1 = Mentions.fromPages(pages.repartition(3))
    val m2 = Mentions.fromPages(pages.repartition(11))
    val (_, c1, e1) = PairEval.runPipeline(spark, m1)
    val (_, c2, e2) = PairEval.runPipeline(spark, m2)
    val s1 = c1.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val s2 = c2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(s1 == s2, "cluster assignment depends on partitioning")
    assert(e1 == e2)
  }

  test("block profile respects the sub-bucket cap in candidate generation") {
    import org.apache.spark.sql.functions._
    val pages = Synth.pages(spark, nPages = 400, seed = 42L, nDomains = 10)
    val mentions = Mentions.fromPages(pages)
    val profile = Blocking.blockProfile(mentions).head()
    info(s"blocks=${profile.getLong(0)} max=${profile.getLong(1)} p99=${profile.get(2)} naivePairs=${profile.get(3)}")
    assert(profile.getLong(0) > 0)
  }
}
