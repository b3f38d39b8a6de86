package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streaming
import graft.synth.Synth

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  /** The latest committed version under a local state dir: the highest
    * `v_N` that has a `_PARTS` manifest. */
  private def latestVersion(stateDir: String): Long =
    new java.io.File(stateDir).list()
      .filter(n => n.startsWith("v_") && new java.io.File(stateDir, s"$n/_PARTS").exists())
      .map(_.drop(2).toLong).max

  test("streaming mention extraction matches the batch path exactly") {
    val dir = Files.createTempDirectory("pages_stream").toString
    val pages = Synth.pages(spark, 80, seed = 42L, nDomains = 5)
    pages.write.mode("overwrite").parquet(dir)

    val q = Streaming.pageMentionStream(spark, dir)
      .writeStream.format("memory").queryName("mentions_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("mentions_stream")
        .select("mention_id", "gold_entity")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val batch = graft.er.Mentions.fromPages(pages)
        .select(col("mention_id"), col("gold_entity"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(streamed == batch, "streaming and batch extraction disagree")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("incremental arrival: new files are picked up by the next trigger") {
    val dir = Files.createTempDirectory("pages_incr").toString
    Synth.pages(spark, 40, seed = 1L, nDomains = 5).write.mode("append").parquet(dir)
    val q = Streaming.pageMentionStream(spark, dir)
      .writeStream.format("memory").queryName("mentions_incr")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n1 = spark.table("mentions_incr").count()
      // new partition arrives
      Synth.pages(spark, 40, seed = 2L, nDomains = 5).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val n2 = spark.table("mentions_incr").count()
      assert(n1 > 0 && n2 > n1, s"incremental batch not consumed: $n1 -> $n2")
    } finally q.stop()
  }


  test("stateful streaming exact dedup: first-seen survivor, running counts across triggers") {
    import spark.implicits._
    val docsDir = Files.createTempDirectory("dedup_stream").toString
    // trigger 1: h1 twice (ids 10, 11), h2 once (id 20)
    Seq(("h1", 10L), ("h1", 11L), ("h2", 20L)).toDF("content_hash", "doc_id")
      .coalesce(1) // ONE file -> one micro-batch (maxFilesPerTrigger=1)
      .write.mode("append").parquet(docsDir)
    val input = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("content_hash", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(docsDir)
      .as[(String, Long)]
    val q = Streaming.streamingExactDedup(input)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // trigger 2: h1 again (id 12) -> duplicate with count continuing via state
      Seq(("h1", 12L)).toDF("content_hash", "doc_id").coalesce(1)
        .write.mode("append").parquet(docsDir)
      q.processAllAvailable()
      val rows = spark.table("dedup_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getLong(3), r.getLong(4))).toSet
      assert(rows.contains(("h2", 20L, true, 1L, 20L)))
      // h1: exactly one is_first across ALL triggers — deterministically the
      // MIN id of the first batch (10, not 11, whatever the partitioning)
      val h1 = rows.filter(_._1 == "h1")
      assert(h1.count(_._3) == 1, s"exactly one first-seen for h1: $h1")
      assert(h1.exists(r => r._2 == 10L && r._3), s"survivor must be batch-min id 10: $h1")
      assert(h1.forall(_._5 == 10L), s"all h1 rows must carry survivor_id 10: $h1")
      assert(h1.exists(r => r._2 == 12L && !r._3 && r._4 == 3L),
        s"state did not persist across triggers: $h1")
    } finally q.stop()
  }

  test("stateful streaming near-dup: pairs found across triggers, agrees with batch minhash") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val base = (0 until 30).map { i =>
      (i.toLong, (0 until 40).map(_ => "w" + rng.nextInt(400)).mkString(" "))
    }
    // near-dups of docs 0-5 arrive in a LATER trigger (ids 100+)
    val dups = base.take(6).map { case (id, t) =>
      (id + 100L, t.split(' ').updated(2, "CHANGED").mkString(" "))
    }
    val dir = Files.createTempDirectory("neardup_stream").toString
    base.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
    val input = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .as[(Long, String)]
    // idleBucketTtl = "": a pending processing-time timeout would keep the
    // trigger loop alive and hang processAllAvailable in this harness
    val q = Streaming.streamingMinhashPairs(input, idleBucketTtl = "")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      dups.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val pairs = spark.table("neardup_stream")
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // every planted cross-trigger near-dup is found (state persisted)
      (0 until 6).foreach { i =>
        assert(pairs.contains((i.toLong, i + 100L)),
          s"cross-trigger near-dup ($i, ${i + 100}) missed; got $pairs")
      }
      // agreement with the batch tier on the same corpus
      val batchPairs = graft.dedup.Dedup.minhashPairs(
        (base ++ dups).toDF("doc_id", "text"), "doc_id", "text",
        shingleK = 5, nHashes = 64, rowsPerBand = 8, minJaccard = 0.5)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === batchPairs,
        s"streaming pair set diverges from batch: extra=${pairs -- batchPairs} missing=${batchPairs -- pairs}")
    } finally q.stop()
  }

  test("watermarked window aggregation over the events table") {
    // the file source needs a directory; restage the single-file table
    val eventsDir = Files.createTempDirectory("events_stream").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(eventsDir)
    val q = Streaming.eventWindowCounts(spark, eventsDir)
      .writeStream.format("memory").queryName("event_windows")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append mode emits only windows closed by the watermark; with a
      // static file source the final windows stay open, so check state via
      // a complete-mode run instead
    } finally q.stop()
    val q2 = Streaming.eventWindowCounts(spark, eventsDir)
      .writeStream.format("memory").queryName("event_windows_c")
      .outputMode("complete").start()
    try {
      q2.processAllAvailable()
      val rows = spark.table("event_windows_c")
      assert(rows.count() > 0)
      val total = rows.agg(sum("n")).head().getLong(0)
      assert(total == 1000L, s"window counts should cover all 1000 events, got $total")
    } finally q2.stop()
  }

  test("streaming eval counters: incremental totals equal the batch aggregation") {
    import spark.implicits._
    val rowsDir = Files.createTempDirectory("eval_stream").toString
    // micro-batch 1 + 2: per-case counter rows arriving in two waves
    val wave1 = Seq(("IGNORED", "all", 2L, 1L, 0L), ("IGNORED", "ner", 1L, 0L, 1L))
    val wave2 = Seq(("IGNORED", "all", 1L, 0L, 2L), ("REQUIRED", "all", 0L, 1L, 1L))
    wave1.toDF("mode", "category", "tp", "fp", "fn").coalesce(1)
      .write.mode("append").parquet(rowsDir)
    val input = spark.readStream
      .schema(Streaming.counterRowSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(rowsDir)
    val q = Streaming.streamingEvalCounts(input)
      .writeStream.format("memory").queryName("eval_counts_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      wave2.toDF("mode", "category", "tp", "fp", "fn").coalesce(1)
        .write.mode("append").parquet(rowsDir)
      q.processAllAvailable()
      val got = spark.table("eval_counts_stream")
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // batch oracle: the same rows through the same groupBy
      val want = (wave1 ++ wave2).toDF("mode", "category", "tp", "fp", "fn")
        .groupBy("mode", "category")
        .agg(org.apache.spark.sql.functions.sum("tp").as("tp"),
          org.apache.spark.sql.functions.sum("fp").as("fp"),
          org.apache.spark.sql.functions.sum("fn").as("fn"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == want)
      assert(got(("IGNORED", "all")) == ((3L, 1L, 2L)))
    } finally q.stop()
  }

  test("streaming cluster maintenance: two-wave fold equals batch CC; replay is a no-op") {
    import spark.implicits._
    val edgesDir = Files.createTempDirectory("cc_stream_edges").toString
    val stateDir = Files.createTempDirectory("cc_stream_state").toString
    val ckptDir = Files.createTempDirectory("cc_stream_ckpt").toString
    val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.LongType)))
    // wave 1 (batch 0): clusters {1,2,3} and {10,11}
    val wave1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    // wave 2 (batch 1): merges them via 3-10, adds brand-new pair {40,41}
    val wave2 = Seq((3L, 10L), (40L, 41L))
    wave1.toDF("a", "b").coalesce(1).write.mode("append").parquet(edgesDir)
    val input = spark.readStream.schema(edgeSchema)
      .option("maxFilesPerTrigger", "1").parquet(edgesDir)
    val q = Streaming.streamingClusters(input, stateDir, ckptDir)
    try {
      q.processAllAvailable()
      val mid = Streaming.currentClusters(spark, stateDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(mid == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      wave2.toDF("a", "b").coalesce(1).write.mode("append").parquet(edgesDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = Streaming.currentClusters(spark, stateDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // oracle: batch CC over the union, through the independent batch path
    val union = (wave1 ++ wave2).toDF("a", "b")
    val ids = union.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.array($"a", $"b")).as("id")).distinct()
    val want = graft.er.Clustering.assign(spark, ids, union)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got(11L) == 1L && got(41L) == 40L)
    // replayed batch id (crash between sink commit and offset commit):
    // the fold must skip — state bytes unchanged
    Streaming.foldClusterBatch(Seq((40L, 999L)).toDF("a", "b"), stateDir, 1L)
    val after = Streaming.currentClusters(spark, stateDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == want, "replayed batchId must not refold")
    // pruning: at most current + previous version dirs remain
    val vDirs = new java.io.File(stateDir).listFiles().filter(_.getName.startsWith("v_"))
    assert(vDirs.length <= 2, s"stale versions not pruned: ${vDirs.mkString(",")}")
  }

  test("round-7 delta state: a cluster fold rewrites only the touched ranges") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("cc_delta_state").toString
    spark.conf.set("spark.graft.streaming.stateRanges", "8")
    try {
      // bootstrap: 500 two-id clusters over ids 0..999 — all 8 ranges land
      val wave1 = (0L until 1000L by 2).map(k => (k, k + 1))
      Streaming.foldClusterBatch(wave1.toDF("a", "b"), stateDir, 0L)
      // fold: one edge merges {0,1} and {2,3} — changed rows are ids 2,3
      Streaming.foldClusterBatch(Seq((0L, 2L)).toDF("a", "b"), stateDir, 1L)
      val got = Streaming.currentClusters(spark, stateDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val union = (wave1 :+ ((0L, 2L))).toDF("a", "b")
      val ids = union.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array($"a", $"b")).as("id")).distinct()
      val want = graft.er.Clustering.assign(spark, ids, union)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want && got(3L) == 0L)
      // write-volume evidence: the fold's version dir holds only the
      // ranges of the changed ids (2 and 3), not all 8
      def rangeDirs(v: String): Set[String] = {
        val d = new java.io.File(new java.io.File(stateDir, v), "assign")
        d.listFiles().filter(_.getName.startsWith("_r=")).map(_.getName).toSet
      }
      val boot = rangeDirs("v_000000000000")
      val fold = rangeDirs("v_000000000001")
      assert(boot.size > 2, s"bootstrap should land many ranges: $boot")
      assert(fold.size <= 2, s"fold rewrote untouched ranges: $fold")
    } finally spark.conf.unset("spark.graft.streaming.stateRanges")
  }

  test("round-7 delta state: dup-ngram grams land as per-fold deltas, chain compacts, stats stay exact") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("dng_delta_state").toString
    spark.conf.set("spark.graft.streaming.stateRanges", "8")
    try {
      // 10 folds: exceeds the delta chain's compactEvery=8 budget, so the
      // chain resolution AND a compaction both get exercised
      def wave(w: Int): Seq[(Long, String)] =
        (0 until 6).map(i =>
          (w * 100L + i, (0 until 10).map(t => s"t${(w * 3 + i + t) % 9}").mkString(" ")))
      (0 until 10).foreach { w =>
        Streaming.foldDupNgramBatch(wave(w).toDF("doc_id", "text"), 8, stateDir, w.toLong)
      }
      val got = Streaming.currentDupNgrams(spark, stateDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val all = (0 until 10).flatMap(wave).toDF("doc_id", "text")
      val want = graft.curate.Decontam.dupNgramStats(all, "doc_id", "text", n = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, "delta-resolved stats diverge from batch dupNgramStats")
      // write-volume evidence: a non-compaction fold's grams dir holds
      // ONLY that batch's gram rows (batch-scale), not the whole relation
      val vDir = f"v_${latestVersion(stateDir)}%012d"
      val gramsRows = spark.read.parquet(s"$stateDir/$vDir/grams").count()
      val batchGrams = graft.curate.Decontam
        .dupNgramStats(wave(9).toDF("doc_id", "text"), "doc_id", "text", n = 8)
        .agg(org.apache.spark.sql.functions.sum("n_grams")).head().getLong(0)
      assert(gramsRows == batchGrams,
        s"last fold's grams part has $gramsRows rows, batch has $batchGrams — full rewrite came back")
    } finally spark.conf.unset("spark.graft.streaming.stateRanges")
  }

  test("versioned state: an uncommitted version dir is ignored") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("cc_state_crash").toString
    // two committed folds: {1,2} then merge via 2-3
    Streaming.foldClusterBatch(Seq((1L, 2L)).toDF("a", "b"), stateDir, 0L)
    Streaming.foldClusterBatch(Seq((2L, 3L)).toDF("a", "b"), stateDir, 1L)
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    def cur() = Streaming.currentClusters(spark, stateDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cur() == want)
    // debris of a crashed fold: a HIGHER version dir holding a Parquet
    // part but no `_PARTS` manifest (killed before its commit record)
    Seq((7L, 7L)).toDF("id", "cluster")
      .write.parquet(s"$stateDir/v_000000000007/assign")
    // the latest committed version, NOT the debris and NOT empty state
    assert(cur() == want, "an uncommitted version dir changed the standing state")
    // the next fold resumes FROM the recovered version (batch 2 merges
    // 3-4; a from-scratch refold would know nothing about 1-2-3)
    Streaming.foldClusterBatch(Seq((3L, 4L)).toDF("a", "b"), stateDir, 2L)
    assert(cur() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // a replay below the recovered version is still skipped
    Streaming.foldClusterBatch(Seq((4L, 999L)).toDF("a", "b"), stateDir, 1L)
    assert(cur() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("a failed state read fails the fold loudly and keeps the previous version") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val local = Files.createTempDirectory("cc_state_faulty").toString
    val stateDir = "faulty://" + local
    // v1 rewrites only the range of its changed id: read without its
    // manifest, the version is a partial relation
    Streaming.foldClusterBatch(Seq((1L, 2L)).toDF("a", "b"), stateDir, 0L)
    Streaming.foldClusterBatch(Seq((2L, 3L)).toDF("a", "b"), stateDir, 1L)
    def latest() = latestVersion(local)
    def cur() = Streaming.currentClusters(spark, stateDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    assert(cur() == want && latest() == 1L)
    // a transient (non-FileNotFound) error on the previous version's
    // manifest, then on listing the state dir itself: each must fail the
    // fold, not degrade to a guessed layout or an empty state
    Seq[(String, () => Unit)](
      "_PARTS read" -> (() => FaultyFs.failOpen = Set("v_000000000001/_PARTS")),
      "state dir listing" -> (() => FaultyFs.failList = Set(local))
    ).foreach { case (failing, inject) =>
      inject()
      try {
        val e = intercept[java.io.IOException] {
          Streaming.foldClusterBatch(Seq((3L, 4L)).toDF("a", "b"), stateDir, 2L)
        }
        assert(!e.isInstanceOf[java.io.FileNotFoundException], e.toString)
      } finally { FaultyFs.failOpen = Set.empty; FaultyFs.failList = Set.empty }
      assert(latest() == 1L, s"a version committed after a failed fold ($failing)")
      assert(cur() == want, s"standing state changed after a failed fold ($failing)")
    }
  }

  test("streaming source-cap maintenance: two-wave fold equals batch cap; eviction and replay") {
    import spark.implicits._
    val docsDir = Files.createTempDirectory("scap_stream_docs").toString
    val stateDir = Files.createTempDirectory("scap_stream_state").toString
    val ckptDir = Files.createTempDirectory("scap_stream_ckpt").toString
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType)))
    val n = 3
    // wave 1 fills source "a" past the cap; wave 2 brings ids whose
    // hashes may evict wave-1 keepers, plus a brand-new source
    val wave1 = (0L until 8L).map(i => (i, "a")) ++ Seq((100L, "b"))
    val wave2 = (8L until 16L).map(i => (i, "a")) ++ Seq((200L, "c"))
    wave1.toDF("doc_id", "source").coalesce(1).write.mode("append").parquet(docsDir)
    val input = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(docsDir)
    val q = Streaming.streamingSourceCap(input, n, stateDir, ckptDir)
    try {
      q.processAllAvailable()
      val mid = Streaming.currentSourceCap(spark, stateDir)
        .collect().map(r => r.getLong(0)).toSet
      // wave-1 state = batch cap over wave 1
      val midWant = graft.curate.SourceCap.sourceCap(wave1.toDF("doc_id", "source"), n)
        .where($"kept").collect().map(_.getLong(0)).toSet
      assert(mid === midWant)
      wave2.toDF("doc_id", "source").coalesce(1).write.mode("append").parquet(docsDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = Streaming.currentSourceCap(spark, stateDir)
      .collect().map(r => r.getLong(0)).toSet
    // oracle: batch cap over the union via the independent batch path
    val want = graft.curate.SourceCap.sourceCap(
      (wave1 ++ wave2).toDF("doc_id", "source"), n)
      .where($"kept").collect().map(_.getLong(0)).toSet
    assert(got === want)
    // the spec is only meaningful if wave 2 actually evicted a wave-1
    // keeper from source "a" — check against the wave-1 state
    val mid2 = graft.curate.SourceCap.sourceCap(wave1.toDF("doc_id", "source"), n)
      .where($"kept" && $"source" === "a").collect().map(_.getLong(0)).toSet
    assert((mid2 -- got).nonEmpty, "fixture never exercised eviction — reshuffle ids")
    assert(got.contains(200L), "new source keeps its only doc")
    // replayed batchId: no refold, state bytes unchanged
    Streaming.foldSourceCapBatch(Seq((999L, "zz")).toDF("doc_id", "source"), n, stateDir, 1L)
    val after = Streaming.currentSourceCap(spark, stateDir)
      .collect().map(r => r.getLong(0)).toSet
    assert(after === want, "replayed batchId must not refold")
    // re-delivery under a NEW batchId (re-crawl): already-kept docs must
    // not fill second cap slots and evict keepers — state unchanged
    Streaming.foldSourceCapBatch(
      (wave1 ++ wave2).toDF("doc_id", "source"), n, stateDir, 2L)
    val redelivered = Streaming.currentSourceCap(spark, stateDir)
      .collect().map(r => r.getLong(0))
    assert(redelivered.toSet === want, "re-delivered docs changed the kept set")
    assert(redelivered.length === redelivered.toSet.size, "duplicate state rows")
    val vDirs = new java.io.File(stateDir).listFiles().filter(_.getName.startsWith("v_"))
    assert(vDirs.length <= 2, s"stale versions not pruned: ${vDirs.mkString(",")}")
  }

  test("every maintenance sink skips a replayed batch and an empty batch") {
    import spark.implicits._
    val edges = Seq(Seq((1L, 2L), (3L, 4L), (10L, 11L)), Seq((2L, 3L)), Seq((4L, 10L), (30L, 31L)))
    def docs(w: Int) = (0 until 4).map(i => (w * 10L + i,
      (0 until 6).map(t => s"t${(w + i + t) % 5}").mkString(" "), s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    def vecs(w: Int) = (0 until 12).map(i => (w * 100L + i,
      Seq.tabulate(4)(d => ((w * 12 + i) * (d + 3) % 17).toDouble))).toDF("vec_id", "embedding")
    val sinks = Seq[(String, Int => DataFrame, (DataFrame, String, Long) => Unit, Seq[String])](
      ("clusters", w => edges(w).toDF("a", "b"), Streaming.foldClusterBatch, Seq("assign")),
      ("dup-ngrams", w => docs(w).select("doc_id", "text"),
        Streaming.foldDupNgramBatch(_, 3, _, _), Seq("grams", "freq", "stats", "meta")),
      ("source cap", w => docs(w).select("doc_id", "source"),
        Streaming.foldSourceCapBatch(_, 2, _, _), Seq("kept")),
      ("ivf", vecs, Streaming.foldIvfBatch(_, _, _), Seq("assigned", "centroids")))
    sinks.foreach { case (name, batch, fold, parts) =>
      val dir = Files.createTempDirectory("sink_guard").toString
      Seq(0, 1).foreach(w => fold(batch(w), dir, w.toLong))
      // the latest version and every part's rows, order-independent
      def state(): (Option[Long], Seq[Seq[String]]) = {
        val vs = new Streaming.VersionedState(spark, dir)
        val v = vs.readLatest()
        v -> parts.map(p => vs.readPart(v.get, p).collect().map(_.toString).sorted.toSeq)
      }
      val before = state()
      assert(before._1.contains(1L), s"$name: two folds did not commit v=1")
      // a replayed and an out-of-order batchId carrying NEW rows
      fold(batch(2), dir, 1L)
      fold(batch(2), dir, 0L)
      assert(state() == before, s"$name: a replayed batchId refolded")
      // an empty batch under a new batchId commits no version
      fold(batch(2).limit(0), dir, 2L)
      assert(state() == before, s"$name: an empty batch changed the state")
      // the guard passes the next new, non-empty batch
      fold(batch(2), dir, 2L)
      assert(state()._1.contains(2L), s"$name: a new batch was skipped")
    }
  }
}
