package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.Streaming

/** End-to-end driver for the STREAMING maintenance sinks (round-6
  * verdict item: streamingClusters / streamingSourceCap were spec-only —
  * exercised inside the test JVM but never from a standalone surface).
  *
  * Runs REAL Structured Streaming queries (writeStream → foreachBatch →
  * versioned Parquet state, each version committed by its `_PARTS`
  * manifest)
  * over ≥3 micro-batches each, at a deliberately non-toy scale
  * (150k edges/wave over 100k nodes; 120k docs/wave over 1k sources),
  * then checks the standing state equals the independent BATCH answer
  * over everything seen. Prints per-fold wall + rows/s for BASELINE.md.
  */
object StreamMaintProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- deterministic synthetic waves (splitmix-derived, no RNG) ----
    val nodes = 100000L
    def edgeWave(w: Int, n: Int): DataFrame =
      spark.range(n).select(
        pmod(xxhash64(col("id"), lit(w)), lit(nodes)).as("a"),
        pmod(xxhash64(col("id"), lit(w + 100)), lit(nodes)).as("b"))
        .where(col("a") =!= col("b"))
    def docWave(w: Int, n: Int): DataFrame =
      spark.range(n).select(
        (col("id") + lit(w.toLong * 1000000L)).as("doc_id"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit(w + 7)), lit(1000))).as("source"))

    // ---- streaming cluster maintenance over 3 waves ----
    val edgesDir = Files.createTempDirectory("smp_edges").toString
    val ccState = Files.createTempDirectory("smp_cc_state").toString
    val ccCkpt = Files.createTempDirectory("smp_cc_ckpt").toString
    val edgeSchema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val in = spark.readStream.schema(edgeSchema)
      .option("maxFilesPerTrigger", "1").parquet(edgesDir)
    val q = Streaming.streamingClusters(in, ccState, ccCkpt)
    val waveRows = 150000
    try {
      (0 until 3).foreach { w =>
        edgeWave(w, waveRows).coalesce(4).write.mode("append").parquet(edgesDir)
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[probe] cluster fold wave=$w: $s%.2f s (${waveRows / s}%.0f edges/s)")
      }
    } finally q.stop()
    val gotC = Streaming.currentClusters(spark, ccState)
    val union = (0 until 3).map(edgeWave(_, waveRows)).reduce(_ unionAll _)
    val ids = union.select(explode(array(col("a"), col("b"))).as("id")).distinct()
    val wantC = graft.er.Clustering.assign(spark, ids, union)
    val diffC = gotC.unionAll(wantC).groupBy("id", "cluster").count()
      .where(col("count") =!= 2).count()
    println(s"[probe] cluster state vs batch CC: " +
      (if (diffC == 0) "EXACT" else s"MISMATCH ($diffC rows)"))

    // ---- streaming source-cap maintenance over 3 waves ----
    val docsDir = Files.createTempDirectory("smp_docs").toString
    val capState = Files.createTempDirectory("smp_cap_state").toString
    val capCkpt = Files.createTempDirectory("smp_cap_ckpt").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType)))
    val din = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(docsDir)
    val dq = Streaming.streamingSourceCap(din, 8, capState, capCkpt)
    val docRows = 120000
    try {
      (0 until 3).foreach { w =>
        docWave(w, docRows).coalesce(4).write.mode("append").parquet(docsDir)
        val t0 = System.nanoTime()
        dq.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[probe] source-cap fold wave=$w: $s%.2f s (${docRows / s}%.0f docs/s)")
      }
    } finally dq.stop()
    val gotK = Streaming.currentSourceCap(spark, capState).select("id").as[Long]
      .collect().toSet
    val allDocs = (0 until 3).map(docWave(_, docRows)).reduce(_ unionAll _)
    val wantK = graft.curate.SourceCap.sourceCap(allDocs, 8)
      .where(col("kept")).select("doc_id").as[Long].collect().toSet
    println(s"[probe] source-cap state vs batch cap: " +
      (if (gotK == wantK) s"EXACT (${gotK.size} kept)"
       else s"MISMATCH (${(gotK -- wantK).size} extra, ${(wantK -- gotK).size} missing)"))

    // ---- streaming dup-ngram maintenance over 3 waves (round-6) ----
    // synthetic text: 12 tokens from a small shared vocabulary so waves
    // genuinely duplicate each other's 8-grams (flip path exercised at
    // volume); ~40k docs/wave
    def textWave(w: Int, n: Int): DataFrame =
      spark.range(n).select(
        (col("id") + lit(w.toLong * 1000000L)).as("doc_id"),
        concat_ws(" ", (0 until 12).map(k =>
          concat(lit("t"), pmod(xxhash64(col("id"), lit(w * 31 + k)), lit(40)))): _*)
          .as("text"))
    val txtDir = Files.createTempDirectory("smp_txt").toString
    val dngState = Files.createTempDirectory("smp_dng_state").toString
    val dngCkpt = Files.createTempDirectory("smp_dng_ckpt").toString
    val txtSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val tin = spark.readStream.schema(txtSchema)
      .option("maxFilesPerTrigger", "1").parquet(txtDir)
    val tq = Streaming.streamingDupNgrams(tin, 8, dngState, dngCkpt)
    val txtRows = 40000
    try {
      (0 until 3).foreach { w =>
        textWave(w, txtRows).coalesce(4).write.mode("append").parquet(txtDir)
        val t0 = System.nanoTime()
        tq.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[probe] dup-ngram fold wave=$w: $s%.2f s (${txtRows / s}%.0f docs/s)")
      }
    } finally tq.stop()
    val gotD = Streaming.currentDupNgrams(spark, dngState)
    val allTxt = (0 until 3).map(textWave(_, txtRows)).reduce(_ unionAll _)
    val wantD = graft.curate.Decontam.dupNgramStats(allTxt, "doc_id", "text", n = 8)
    val diffD = gotD.unionAll(wantD).groupBy("doc_id", "n_grams", "n_dup_grams")
      .count().where(col("count") =!= 2).count()
    println(s"[probe] dup-ngram state vs batch stats: " +
      (if (diffD == 0) "EXACT" else s"MISMATCH ($diffD rows)"))

    // ---- streaming IVF maintenance over 3 waves (round-6) ----
    // synthetic 64-dim vectors, 30k/wave; wave 0 trains the centroids,
    // waves 1-2 are frozen-centroid appends
    def vecWave(w: Int, n: Int): DataFrame =
      spark.range(n).select(
        (col("id") + lit(w.toLong * 1000000L)).as("vec_id"),
        expr("transform(sequence(0, 63), d -> " +
          s"cast(pmod(xxhash64(id, d, $w), 1000) as double) / 500.0 - 1.0)")
          .as("embedding"))
    val vecDir = Files.createTempDirectory("smp_vec").toString
    val ivfState = Files.createTempDirectory("smp_ivf_state").toString
    val ivfCkpt = Files.createTempDirectory("smp_ivf_ckpt").toString
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    val vin = spark.readStream.schema(vecSchema)
      .option("maxFilesPerTrigger", "1").parquet(vecDir)
    val vq = Streaming.streamingIvf(vin, ivfState, ivfCkpt)
    val vecRows = 30000
    try {
      (0 until 3).foreach { w =>
        // wave 0 MUST land as one file: with maxFilesPerTrigger=1 each
        // file is its own micro-batch, and the centroids train on the
        // FIRST batch alone — a split training wave would freeze
        // centroids from a fraction of it (appends are batch-boundary-
        // insensitive, training is not)
        vecWave(w, vecRows).coalesce(if (w == 0) 1 else 4)
          .write.mode("append").parquet(vecDir)
        val t0 = System.nanoTime()
        vq.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[probe] ivf fold wave=$w: $s%.2f s (${vecRows / s}%.0f vecs/s)")
      }
    } finally vq.stop()
    val ivfIdx = Streaming.currentIvfIndex(spark, ivfState).get
    val queries = vecWave(0, vecRows).where(col("vec_id") < 20)
    def ranks(df: DataFrame) = df.select("query_id", "rank", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val gotV = ranks(graft.sim.Ann.ivfSearchIndex(spark, ivfIdx, queries,
      "vec_id", "embedding", k = 5, nProbe = 24))
    val wantV = ranks(graft.sim.Ann.ivfSearchIndex(spark,
      (1 until 3).map(vecWave(_, vecRows)).foldLeft(
        graft.sim.Ann.buildIvfIndex(spark, vecWave(0, vecRows), "vec_id", "embedding"))(
        (ix, wv) => graft.sim.Ann.ivfAppend(spark, ix, wv, "vec_id", "embedding")),
      queries, "vec_id", "embedding", k = 5, nProbe = 24))
    graft.dedup.Dedup.releaseSignatures()
    println(s"[probe] ivf state vs batch fold: " +
      (if (gotV == wantV) s"EXACT (${gotV.size} ranked rows)"
       else s"MISMATCH (${(gotV -- wantV).size} extra, ${(wantV -- gotV).size} missing)"))
    if (diffC != 0 || gotK != wantK || diffD != 0 || gotV != wantV) sys.exit(1)
    spark.stop()
  }
}
