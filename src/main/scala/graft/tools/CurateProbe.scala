package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.curate.{GopherFilter, SourceCap}
import graft.dedup.Dedup
import graft.queries.{Queries, TrainingDataQueries}

/** Stage-decomposed timing of curate_pipeline at sf0.1 (round-6 perf
  * triage): which stage owns the wall. */
object CurateProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[curate] $name: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    // warm pass of the full query first
    time("full (cold)")(TrainingDataQueries.curatePipeline(spark, dir).count())
    Dedup.releaseSignatures()
    time("full (warm)")(TrainingDataQueries.curatePipeline(spark, dir).count())
    Dedup.releaseSignatures()
    // stages
    val dall = spark.read.parquet(s"$dir/documents.parquet")
    val g = time("stage1 gopher + checkpoint")(
      GopherFilter.gopherFilter(dall)
        .select(col("doc_id"), col("keep").as("gopher_keep")).localCheckpoint(true))
    val s1 = g.where(col("gopher_keep")).select("doc_id")
    val docs1 = dall.join(s1, Seq("doc_id"), "left_semi")
    val aIds = s1.select(col("doc_id").as("id_a"))
    val bIds = s1.select(col("doc_id").as("id_b"))
    val pairs1 = time("pairs1 restrict (count)")(
      { val p = TrainingDataQueries.ddMinhashPairs(spark, dir)
          .join(aIds, Seq("id_a"), "left_semi").join(bIds, Seq("id_b"), "left_semi")
        p.count(); p })
    val cont1 = time("containment restrict (count)")(
      { val c = Queries.ddContainmentPairs(spark, dir)
          .join(s1.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
          .join(s1.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        println(s"[curate] cont1 rows=${c.count()}"); c })
    val surv = time("survivors + checkpoint")(
      Dedup.survivors(docs1, "doc_id", "text",
        minJaccard = 0.35,
        nearPairs = Some(Dedup.NearPairTable(pairs1, 5, 64, 8, 0.35, Dedup.DefaultMaxBucket)),
        containmentPairs = Some(cont1)).localCheckpoint(true))
    val s2 = surv.where(col("tier") === "keep").select(col("id").as("doc_id"))
    time("cap")(SourceCap.sourceCap(dall.join(s2, Seq("doc_id"), "left_semi"), n = 8).count())
    time("verdict assembly")(
      dall.select("doc_id").join(g, Seq("doc_id"), "left")
        .join(surv.select(col("id").as("doc_id"), (col("tier") === "keep").as("dedup_keep")), Seq("doc_id"), "left")
        .count())
    spark.stop()
  }
}
