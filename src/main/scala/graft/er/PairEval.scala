package graft.er

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Mention, PairwiseEval}

/** Pairwise-F1 evaluation over the labeled candidate-pair universe — the
  * BASELINE.json metric ("pairwise F1 vs reference clusters on labeled
  * pairs at shared blocking keys").
  *
  * Semantics mirror the reference's TP/FP/FN bookkeeping
  * (/root/reference/src/elevant/evaluation/evaluator.py:48-61 for the
  * precision/recall/F1 arithmetic) lifted from per-case Python loops to one
  * Catalyst aggregation: each labeled pair (a, b) sharing a blocking key is
  *   gold-positive  iff gold_entity(a) == gold_entity(b)   (the reference's
  *                  clusters are keyed by entity id — kb_coref_linker.py:311-315)
  *   pred-positive  iff cluster(a) == cluster(b).
  */
object PairEval {

  /** scored: output of Scoring.scoreFused (has a, b, gold_a, gold_b);
    * clusters: DataFrame(id, cluster). */
  def pairwise(scored: DataFrame, clusters: DataFrame): PairwiseEval = {
    val ca = clusters.withColumnRenamed("id", "a").withColumnRenamed("cluster", "cl_a")
    val cb = clusters.withColumnRenamed("id", "b").withColumnRenamed("cluster", "cl_b")
    val joined = scored
      .join(ca, Seq("a"))
      .join(cb, Seq("b"))
      .withColumn("gold_pos", col("gold_a") === col("gold_b"))
      .withColumn("pred_pos", col("cl_a") === col("cl_b"))
    val row = joined.agg(
      sum(when(col("gold_pos") && col("pred_pos"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("gold_pos") && col("pred_pos"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("gold_pos") && !col("pred_pos"), 1L).otherwise(0L)).as("fn")).head()
    val tp = Option(row.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val fp = Option(row.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val fn = Option(row.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val p = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val r = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    PairwiseEval(tp, fp, fn, p, r, f1)
  }

  /** End-to-end ER pipeline on a mention table; returns (scored pairs,
    * cluster assignment, eval). */
  def runPipeline(
      spark: SparkSession,
      mentions: Dataset[Mention]): (DataFrame, DataFrame, PairwiseEval) = {
    import spark.implicits._
    // fused scale path: one co-partitioning shuffle, scoring map-side,
    // each labeled pair emitted once. The pair universe is read twice
    // (edges + eval join), so it is persisted (spilling to disk)
    val scored = Scoring.scoreFused(Blocking.keyedWithAttrs(mentions, Blocking.Config()))
      .select("a", "b", "gold_a", "gold_b", "is_match")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = scored.where(col("is_match")).select(col("a"), col("b"))
    val ids = mentions.select(col("mention_id").as("id"))
    val clusters = Clustering.assign(spark, ids, edges).cache()
    val eval = pairwise(scored, clusters)
    (scored, clusters, eval)
  }
}
