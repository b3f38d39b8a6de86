package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.curate.Decontam

class DecontamSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("tokenNgrams: sliding grams, and short docs yield an EMPTY list (no descending sequence)") {
    val got = Seq(("a b c d", 1L), ("a b", 2L)).toDF("text", "id")
      .select(col("id"), Decontam.tokenNgrams(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("a b c", "b c d"))
    // the guard matters: unguarded sequence(0, -1) DESCENDS in Spark and
    // would fabricate grams from negative slice indices
    assert(got(2L) === Seq.empty)
  }

  test("decontaminate: flags exactly the training docs sharing an 8-gram with the eval slice") {
    // id 7 is the eval doc (id % 20 == 7); id 1 copies one of its
    // 8-grams, id 2 is clean, id 3 is too short to carry any gram
    val df = Seq(
      (7L, "a b c d e f g h i j"),
      (1L, "z1 z2 z3 a b c d e f g h q"),
      (2L, "p q r s t u v w x y"),
      (3L, "a b c"))
      .toDF("doc_id", "text")
    val got = Decontam.decontaminate(df, "doc_id", "text",
        isEval = pmod(col("doc_id"), lit(20)) === 7, n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "eval docs must not be emitted")
    assert(got(1L) === ((1L, true)), s"planted hit: ${got(1L)}")
    assert(got(2L) === ((0L, false)))
    assert(got(3L) === ((0L, false)), "short doc carries no grams")
  }

  test("contaminatedSpans: hit windows merge when overlapping or touching, split otherwise") {
    // n=3 for readable positions; id 7 is the eval doc
    val df = Seq(
      (7L, "a b c d"),                        // eval grams: "a b c", "b c d"
      (1L, "x a b c d y z a b c q"),          // hits at 1,2 (merge) and 7 (split)
      (2L, "a b c a b c"),                    // hits at 0 and 3 — TOUCHING: one span
      (3L, "p q r s t u v"))                  // clean
      .toDF("doc_id", "text")
    val got = Decontam.contaminatedSpans(df, "doc_id", "text",
        isEval = pmod(col("doc_id"), lit(20)) === 7, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, 1L, 4L),   // hits 1,2 → tokens [1..4]
      (1L, 7L, 9L),   // hit 7 → tokens [7..9], > one clean token away
      (2L, 0L, 5L)),  // hits 0,3 touch → the whole doc
      s"got $got")
  }

  test("dupNgramStats: a gram is dup only when it occurs in ANOTHER document") {
    val df = Seq(
      (1L, "a b c d e f g h i"),        // grams: a..h, b..i
      (2L, "x0 a b c d e f g h"),       // shares a..h with doc 1
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8"),  // 1 gram, unique
      // intra-doc repetition does NOT count (distinct grams per doc):
      (4L, "r r r r r r r r r r r r r r r r"),
      (5L, "a b"))                      // too short
      .toDF("doc_id", "text")
    val got = Decontam.dupNgramStats(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) === ((2L, 1L)), s"doc 1: ${got(1L)}")
    assert(got(2L) === ((2L, 1L)), s"doc 2: ${got(2L)}")
    assert(got(3L) === ((1L, 0L)))
    assert(got(4L) === ((1L, 0L)), "intra-doc repeats are not inter-doc dups")
    assert(got(5L) === ((0L, 0L)))
  }

  test("incremental dup-ngram fold equals batch stats over the union (standing flip included)") {
    // standing: doc 1 holds a UNIQUE gram the batch will duplicate
    // (the flip path — only the gram-partitioned holders probe finds
    // it); docs 2/3 share a gram that stays dup; doc 9 is too short
    val standing = Seq(
      (1L, "a b c d e f g h i"),
      (2L, "q1 q2 q3 q4 q5 q6 q7 q8"),
      (3L, "z0 q1 q2 q3 q4 q5 q6 q7 q8"),
      (9L, "a b"))
      .toDF("doc_id", "text")
    // batch: doc 10 copies doc 1's gram (flips it), doc 11 is fresh,
    // docs 11/12 share a batch-only gram
    val batch = Seq(
      (10L, "y0 a b c d e f g h y9"),
      (11L, "m1 m2 m3 m4 m5 m6 m7 m8 m9"),
      (12L, "x x m2 m3 m4 m5 m6 m7 m8 m9"))
      .toDF("doc_id", "text")
    val idx = Decontam.buildDupNgramIndex(standing, "doc_id", "text", n = 8)
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = table(Decontam.foldDupNgramIndex(idx, batch, "doc_id", "text").index.stats)
    val want = table(Decontam.dupNgramStats(standing.unionByName(batch), "doc_id", "text", n = 8))
    assert(got === want, s"fold != batch: $got vs $want")
    // the planted flip concretely: doc 1's gram "a..h" was unique in the
    // standing corpus and is now dup (batch doc 10 carries it)
    assert(idx.stats.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      .apply(1L) === 0L, "fixture: doc 1 had no dups standing")
    assert(got(1L)._2 === 1L, s"standing flip missed: ${got(1L)}")
    assert(got(10L)._2 >= 1L)
  }

  test("dup-ngram fold emits a batch-scale changed set; passthrough rows equal the standing stats") {
    // standing: doc 1 holds a unique gram the batch duplicates (the flip
    // holder), docs 2/3 share a gram that was dup already, doc 4 holds
    // a unique gram no batch doc repeats, doc 9 is too short
    val standing = Seq(
      (1L, "a b c d e f g h i"),
      (2L, "q1 q2 q3 q4 q5 q6 q7 q8"),
      (3L, "z0 q1 q2 q3 q4 q5 q6 q7 q8"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),
      (9L, "a b"))
      .toDF("doc_id", "text")
    // batch: doc 10 flips doc 1's gram, doc 11 repeats the standing dup
    // gram of docs 2/3 (no standing row changes), doc 12 is fresh
    val batch = Seq(
      (10L, "y0 a b c d e f g h y9"),
      (11L, "q1 q2 q3 q4 q5 q6 q7 q8 w1"),
      (12L, "m1 m2 m3 m4 m5 m6 m7 m8"))
      .toDF("doc_id", "text")
    val idx = Decontam.buildDupNgramIndex(standing, "doc_id", "text", n = 8)
    val fold = Decontam.foldDupNgramIndex(idx, batch, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toSeq
    val full = rows(fold.index.stats).toMap
    val changedRows = rows(fold.changedStats)
    val changed = changedRows.toMap
    assert(changedRows.size === changed.size, s"a changed id repeats: $changedRows")
    assert(full === rows(Decontam.dupNgramStats(
      standing.unionByName(batch), "doc_id", "text", n = 8)).toMap,
      "refreshed stats diverge from batch stats over the union")
    // the changed set is a strict subset: the batch's own docs plus the
    // flip holder, and each changed row agrees with the full table
    assert(changed.keySet === Set(1L, 10L, 11L, 12L), s"changed ids: ${changed.keySet}")
    assert(changed.size < full.size)
    changed.foreach { case (k, v) => assert(full(k) === v, s"changed row $k") }
    // every other row is the standing row verbatim
    val standingStats = rows(idx.stats).toMap
    (full.keySet -- changed.keySet).foreach { k =>
      assert(standingStats(k) === full(k), s"passthrough row $k drifted")
    }
    assert(full(1L) === ((2L, 1L)) && standingStats(1L) === ((2L, 0L)), "planted flip")
  }

  test("streaming dup-ngram maintenance: two-wave fold equals batch stats; replay is a no-op") {
    import java.nio.file.Files
    import graft.streaming.Streaming
    val docsDir = Files.createTempDirectory("dng_stream_docs").toString
    val stateDir = Files.createTempDirectory("dng_stream_state").toString
    val ckptDir = Files.createTempDirectory("dng_stream_ckpt").toString
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    // wave 2 duplicates a gram that was UNIQUE in wave 1 — the
    // cross-version flip path
    val wave1 = Seq((1L, "a b c d e f g h i"), (2L, "q1 q2 q3 q4 q5 q6 q7 q8"))
    val wave2 = Seq((10L, "y0 a b c d e f g h"), (11L, "m1 m2 m3 m4 m5 m6 m7 m8"))
    wave1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(docsDir)
    val input = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", "1").parquet(docsDir)
    val q = Streaming.streamingDupNgrams(input, n = 8, stateDir, ckptDir)
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    try {
      q.processAllAvailable()
      assert(table(Streaming.currentDupNgrams(spark, stateDir)) ===
        table(Decontam.dupNgramStats(wave1.toDF("doc_id", "text"), "doc_id", "text", n = 8)))
      wave2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(docsDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = table(Streaming.currentDupNgrams(spark, stateDir))
    val want = table(Decontam.dupNgramStats(
      (wave1 ++ wave2).toDF("doc_id", "text"), "doc_id", "text", n = 8))
    assert(got === want, s"stream != batch: $got vs $want")
    assert(got(1L)._2 === 1L, "wave-1 doc's gram must flip dup when wave 2 repeats it")
    // replayed batchId: no refold
    Streaming.foldDupNgramBatch(
      Seq((99L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("doc_id", "text"), 8, stateDir, 1L)
    assert(table(Streaming.currentDupNgrams(spark, stateDir)) === want,
      "replayed batchId must not refold")
    val vDirs = new java.io.File(stateDir).listFiles().filter(_.getName.startsWith("v_"))
    assert(vDirs.length <= 2, s"stale versions not pruned: ${vDirs.mkString(",")}")
  }

  test("curate_pipeline_full: eval exclusion + decontam stage compose with the gated stages") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.TrainingDataQueries.curatePipelineFull(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(got.size === docs.count(), "one verdict per doc")
    assert(got.values.toSet.subsetOf(
      Set("eval", "gopher", "decontam", "dedup", "cap", "keep")))
    // stage 0: the eval slice is excluded outright, nothing else is
    val evalIds = docs.where(pmod(col("doc_id"), lit(20)) === 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.filter(_._2 == "eval").keySet === evalIds)
    // stage 2: every decontam verdict is a contaminated gopher-keeper
    val contaminated = graft.queries.TrainingDataQueries.dcDecontam(spark, dir)
      .where(col("contaminated")).select("doc_id").collect().map(_.getLong(0)).toSet
    val gopherDrop = graft.queries.TrainingDataQueries.taGopherFilter(spark, dir)
      .where(!col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.filter(_._2 == "decontam").keySet ===
      contaminated -- gopherDrop -- evalIds)
    // no keeper is contaminated or eval
    val keeps = got.filter(_._2 == "keep").keySet
    assert((keeps & (contaminated ++ evalIds)).isEmpty)
    // the fixture must exercise the decontam stage
    assert(got.values.exists(_ == "decontam") || (contaminated -- gopherDrop).isEmpty,
      "decontam stage never fired despite contaminated survivors")
  }

  test("streaming IVF maintenance: train-on-first, frozen append after; equals the batch fold") {
    import java.nio.file.Files
    import graft.streaming.Streaming
    import graft.sim.Ann
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val wave1 = e.where(pmod(col("vec_id"), lit(4)) =!= 0)
    val wave2 = e.where(pmod(col("vec_id"), lit(4)) === 0)
    val vecsDir = Files.createTempDirectory("ivf_stream_vecs").toString
    val stateDir = Files.createTempDirectory("ivf_stream_state").toString
    val ckptDir = Files.createTempDirectory("ivf_stream_ckpt").toString
    wave1.coalesce(1).write.mode("append").parquet(vecsDir)
    val input = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(vecsDir)
    val q = Streaming.streamingIvf(input, stateDir, ckptDir)
    try {
      q.processAllAvailable()
      wave2.coalesce(1).write.mode("append").parquet(vecsDir)
      q.processAllAvailable()
    } finally q.stop()
    val idx = Streaming.currentIvfIndex(spark, stateDir)
      .getOrElse(fail("no IVF state after two folds"))
    val queries = e.where(col("vec_id") < 20)
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = ranks(Ann.ivfSearchIndex(spark, idx, queries,
      "vec_id", "embedding", k = 5, nProbe = 24))
    // the independent batch fold: bootstrap on wave 1, append wave 2
    val want = ranks(Ann.ivfSearchIndex(spark,
      Ann.ivfAppend(spark,
        Ann.buildIvfIndex(spark, wave1, "vec_id", "embedding"),
        wave2, "vec_id", "embedding"),
      queries, "vec_id", "embedding", k = 5, nProbe = 24))
    graft.dedup.Dedup.releaseSignatures()
    assert(got === want, "streamed IVF state diverged from the batch fold")
  }
}
