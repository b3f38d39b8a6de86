package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.er.{Blocking, Clustering, Mentions, Scoring}
import graft.synth.Synth

/** The end-to-end ER pipeline as resumable snapshot stages (north_rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Stage graph: pages → mentions → match_edges → clusters. Each stage
  * commits a Parquet snapshot + manifest (Pipeline.stage); a killed run
  * resumes from the last committed stage, and editing an upstream
  * snapshot invalidates everything downstream via manifest fingerprints.
  */
object ErPipelineRunner {

  final case class RunResult(
      clusters: DataFrame,
      stagesComputed: Seq[String],
      stagesFromSnapshot: Seq[String])

  def run(spark: SparkSession, root: String, nPages: Long, seed: Long = 42L): RunResult = {
    import spark.implicits._
    val computed = Seq.newBuilder[String]
    val cached = Seq.newBuilder[String]
    def track(r: Pipeline.StageResult): DataFrame = {
      if (r.fromSnapshot) cached += r.name else computed += r.name
      r.df
    }

    val mentions = track(Pipeline.stage(spark, root, "mentions") {
      Mentions.fromPages(Synth.pages(spark, nPages, seed)).toDF()
    })

    val edges = track(Pipeline.stage(spark, root, "match_edges", upstream = Seq("mentions")) {
      val ms = mentions.as[graft.model.Mention]
      val keyed = Blocking.keyedWithAttrs(ms, Blocking.Config())
      Scoring.scoreFused(keyed).where(col("is_match")).select(col("a"), col("b"))
    })

    val clusters = track(Pipeline.stage(spark, root, "clusters", upstream = Seq("match_edges")) {
      // reliable per-round CC snapshots under the pipeline root: round 0
      // (the locally contracted match edges) is committed first, and a
      // graph within the driver threshold finishes from it by union-find;
      // a larger one runs the star loop, and a run killed mid-loop resumes
      // at its last complete round, not from the match_edges snapshot
      Clustering.assign(spark,
        mentions.select(col("mention_id").as("id")), edges,
        checkpointDir = Some(s"$root/_cc_rounds"))
    })

    RunResult(clusters, computed.result(), cached.result())
  }
}
