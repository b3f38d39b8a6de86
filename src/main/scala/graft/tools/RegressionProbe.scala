package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.{ErQueries, EvalQueries}

/** Floor probe for the round-4 official-bench regressions
  * (mm_media_stats 0.112→1.769 s, q10–q13, mm_frame_sample, dd_survivors
  * — verdict item 2). Times each suspect query PASSES times in one
  * session, twice over: first standalone (cold session), then again after
  * the ER + eval session memos are materialized (the state the bench
  * catalog runs them in). If the with-memo floors match the standalone
  * floors, the official-run numbers were first-touch/neighbor noise; a
  * raised with-memo floor would mean a real interaction (e.g. storage
  * pressure from the persisted memo blocks).
  */
object RegressionProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("PROBE_PASSES", "4").toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "256")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // round-6 suspect list: the round-5 official-run regressions
    // (er_clusters 0.21→1.00 s, dd_simhash_pairs 1.64→2.57 s,
    // dd_minhash_pairs 0.28→0.44 s); dd_survivors retained as the
    // continuity reference. Override with PROBE_QUERIES=name,name to
    // probe any catalog subset (the round-4 list or a future one; the eval
    // family: PROBE_QUERIES=eval_baseline_counts,eval_cases,eval_oracle_counts).
    val byName = SparkEntry.queries
    val names = sys.env.get("PROBE_QUERIES")
      .map(_.split(',').toSeq)
      .getOrElse(Seq("er_clusters", "dd_simhash_pairs", "dd_minhash_pairs", "dd_survivors"))
    val suspects: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      names.map(n => n -> byName(n))

    def timeAll(tag: String): Unit =
      suspects.foreach { case (name, fn) =>
        val ts = (1 to passes).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val t = (System.nanoTime() - t0) / 1e9
          graft.dedup.Dedup.releaseSignatures()
          t
        }
        println(f"[probe] $tag $name floor=${ts.min}%.3f passes=" +
          ts.map(t => f"$t%.3f").mkString(","))
      }

    timeAll("standalone")
    // materialize the catalog's session memos, then re-time
    ErQueries.erClusters(spark, sfDir).count()
    ErQueries.erScoredPairs(spark, sfDir).count()
    EvalQueries.evalOracleCounts(spark, sfDir).count()
    EvalQueries.evalBaselineCounts(spark, sfDir).count()
    println("[probe] memos materialized")
    timeAll("with-memos")
    spark.stop()
  }
}
