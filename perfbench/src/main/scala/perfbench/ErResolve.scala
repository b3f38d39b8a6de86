package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.er.{Blocking, Clustering, Mentions, Scoring}
import graft.model.Mention
import graft.pipeline.{ErPipelineRunner, Pipeline}
import graft.synth.Synth
import graft.text.Extract

/** The north-rule ER job: seeded pages through `ErPipelineRunner.run` on a
  * fresh pipeline root (stage commits, reliable CC rounds), clusters
  * materialised. The hot alias forms one skewed block. At 600 pages scoring
  * is the largest layer by CPU time, while the CC rounds and stage commits,
  * which run many small jobs, take the most wall time. The runner
  * synthesises its pages inside the timed pass, so set-up is the session
  * start alone. */
object ErResolve {

  def pages(h: Harness): Long = math.max(60L, (600 * h.args.scale).toLong)

  private def clusterDigest(clusters: DataFrame): String = {
    val r = clusters.agg(count(lit(1)), countDistinct(col("cluster")),
      sum(pmod(xxhash64(col("id"), col("cluster")), lit(1000003L)))).head()
    Common.digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    val seed = h.args.seed
    val n = pages(h)
    Common.loop(h, minOps = 5) { traced =>
      val root = h.dir(s"er_root_${h.ops.length}")
      val ((clusters, dg, keyed, obs), s) = h.op(traced) {
        if (!traced) {
          val r = ErPipelineRunner.run(spark, root, n, seed)
          (r.clusters, clusterDigest(r.clusters), null, null)
        } else tracedPass(h, root, n)
      }
      val same = h.sameDigest(dg)
      h.check {
        val (ok, f1, why) = verify(h, root, clusters)
        h.extra("pair_f1") = (f1, "ratio")
        h.outcome(ok && same, s"op ${s.op}: $why, result digest $dg vs ${h.digests.head}")
        if (traced) blockingRatios(h, root, keyed, obs, s.op)
      }
      spark.catalog.clearCache()
      Common.deleteTree(root)
    }
    // the input the runner synthesised, outside the timed region
    val in = h.check(Synth.pages(spark, n, seed).agg(count(lit(1)),
      sum(octet_length(col("html")) + octet_length(col("text")))).head())
    h.info("input_rows") = in.getLong(0).toString
    h.info("input_bytes") = in.getLong(1).toString
    if (h.args.trace) ElevantEval.tracedPhase(h, passes = 2)
  }

  /** The runner's stage graph with a persist boundary after every layer. */
  private def tracedPass(h: Harness, root: String, n: Long): (DataFrame, String, DataFrame, Observation) = {
    val spark = h.spark
    import spark.implicits._
    def commit(name: String, up: Seq[String])(df: DataFrame): DataFrame = h.layer("pipeline.commit") {
      val (r, bytes) = DirBytes.around(root)(Pipeline.stage(spark, root, name, up)(df).df)
      h.addBytes("pipeline.commit", bytes)
      r
    }
    val pg = Synth.pages(spark, n, h.args.seed)
    val extracted = h.layer("text.extract") {
      Common.materialise(pg.map(p =>
        (p.url, Extract.processExtractorText(new String(p.html, StandardCharsets.UTF_8)))))
    }
    val ms = h.layer("er.mentions")(Common.materialise(Mentions.fromExtracted(extracted)))
    val mentions = commit("mentions", Nil)(ms.toDF())
    val keyed = h.layer("er.blocking") {
      Common.materialise(Blocking.keyedWithAttrs(mentions.as[Mention], Blocking.Config()))
    }
    val obs = Observation(s"scoring_${h.ops.length}")
    val edges0 = h.layer("er.scoring") {
      Common.materialise(Scoring.scoreFused(keyed)
        .observe(obs, count(lit(1)).as("scored"),
          sum(when(col("is_match"), 1L).otherwise(0L)).as("matched"))
        .where(col("is_match")).select(col("a"), col("b")).distinct())
    }
    val edges = commit("match_edges", Seq("mentions"))(edges0)
    val cl = h.layer("er.cc") {
      Common.materialise(Clustering.assign(spark, mentions.select(col("mention_id").as("id")),
        edges, checkpointDir = Some(s"$root/_cc_rounds")))
    }
    val clusters = commit("clusters", Seq("match_edges"))(cl)
    (clusters, clusterDigest(clusters), keyed, obs)
  }

  /** All-pairs pairwise F1 of the clusters against the gold entities, and
    * one cluster row per mention. */
  private def verify(h: Harness, root: String, clusters0: DataFrame): (Boolean, Double, String) = {
    val gold = h.spark.read.parquet(s"$root/mentions/data")
      .select(col("mention_id").as("id"), col("gold_entity").as("gold"))
    val clusters =
      if (h.args.corrupt) clusters0.select(col("id"), col("id").as("cluster")) else clusters0
    val j = clusters.join(gold, Seq("id")).persist()
    def pairs(keys: String*): Long =
      j.groupBy(keys.map(col): _*).count()
        .agg(coalesce(sum(expr("count * (count - 1) div 2")), lit(0L))).head().getLong(0)
    val tp = pairs("cluster", "gold")
    val pred = pairs("cluster")
    val goldPairs = pairs("gold")
    val nRows = clusters.count()
    val nIds = j.select("id").distinct().count()
    val nMentions = gold.count()
    j.unpersist()
    val f1 = if (pred + goldPairs == 0) 0.0 else 2.0 * tp / (pred + goldPairs)
    val ok = f1 >= 0.99 && nRows == nMentions && nIds == nMentions
    (ok, f1, f"pair_f1=$f1%.4f rows=$nRows ids=$nIds mentions=$nMentions")
  }

  /** Blocking quality over the labeled mentions (SparkER's metrics) and the
    * scoring yield, outside the timed region. */
  private def blockingRatios(h: Harness, root: String, keyed: DataFrame, obs: Observation, op: Int): Unit = {
    val m = h.spark.read.parquet(s"$root/mentions/data")
    val nM = m.count()
    val goldPairs = m.groupBy("gold_entity").count()
      .agg(coalesce(sum(expr("count * (count - 1) div 2")), lit(0L))).head().getLong(0)
    val cand = Scoring.scoreFused(keyed)
      .select(col("a"), col("b"), (col("gold_a") === col("gold_b")).as("gp"))
      .dropDuplicates("a", "b")
      .agg(count(lit(1)), coalesce(sum(when(col("gp"), 1L).otherwise(0L)), lit(0L))).head()
    val allPairs = nM.toDouble * (nM - 1) / 2
    if (goldPairs > 0) h.ratio("er.blocking.pair_completeness", cand.getLong(1).toDouble / goldPairs)
    if (allPairs > 0) h.ratio("er.blocking.reduction_ratio", 1.0 - cand.getLong(0) / allPairs)
    val o = obs.get
    val scored = o("scored").asInstanceOf[Long]
    val matched = o("matched").asInstanceOf[Long]
    if (scored > 0) h.ratio("er.scoring.match_ratio", matched.toDouble / scored)
    val cpu = h.layerStats(op, "er.scoring").cpuS
    if (cpu > 0) h.ratio("er.scoring.pairs_per_cpu_s", scored / cpu)
  }
}
