package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.pipeline.Pipeline
import graft.text.TextAnalysis

class TextMultimodalPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("language ID on real multilingual snippets") {
    assert(TextAnalysis.detectLanguage("the cat sat on the mat and it was happy") == "en")
    assert(TextAnalysis.detectLanguage("der Hund ist nicht mit der Katze im Haus") == "de")
    assert(TextAnalysis.detectLanguage("el perro y el gato es que en la casa") == "es")
    assert(TextAnalysis.detectLanguage("le chien est dans la maison et les chats") == "fr")
    assert(TextAnalysis.detectLanguage("你好世界这是一个测试文档内容") == "zh")
    assert(TextAnalysis.detectLanguage("xyzzy plugh qwerty") == "und")
    assert(TextAnalysis.detectLanguage("") == "und")
  }

  test("quality scoring columns behave directionally") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and keeps running for a while."),
      (2L, "buy buy buy buy buy buy buy buy buy buy buy buy"),
      (3L, "3482 9931 11 2 44444 9 3 1 22"),
      (4L, "")).toDF("doc_id", "text")
    val q = TextAnalysis.withQuality(df, "text")
      .select("doc_id", "quality").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > q(2L), s"prose should beat repetition: ${q(1L)} vs ${q(2L)}")
    assert(q(1L) > q(3L), s"prose should beat digits: ${q(1L)} vs ${q(3L)}")
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("repetition counters: hand-computed n-gram fixture + degenerate docs") {
    val df = Seq(
      // "a b a b a b": bigrams [ab,ba,ab,ba,ab] → top2=3; trigrams
      // [aba,bab,aba,bab] → top3=2; 5-grams [ababa, babab] → no dups
      (1L, "a b a b a b"),
      // 12×"x": top bigram "x x" ×11, all 8 5-grams identical → dup5=8
      (2L, "x x x x x x x x x x x x"),
      // fewer than 5 tokens: 5-gram tier empty, bigrams still counted
      (3L, "p q p"),
      // single token: every n-gram tier empty
      (4L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionColumns(col("text"))
      .foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
      .select("doc_id", "n_tokens", "n_bigrams", "top_bigram_n",
        "n_trigrams", "top_trigram_n", "n_5grams", "dup_5gram_n")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got(1L) == ((6L, 5L, 3L, 4L, 2L, 2L, 0L)))
    assert(got(2L) == ((12L, 11L, 11L, 10L, 10L, 8L, 8L)))
    assert(got(3L) == ((3L, 2L, 1L, 1L, 1L, 0L, 0L)))
    assert(got(4L) == ((1L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("token counting: whitespace and BPE-ish") {
    val df = Seq((1L, "hello world, this is fine")).toDF("id", "text")
    val r = df.select(
      TextAnalysis.whitespaceTokenCount(col("text")).as("ws"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpe")).head()
    assert(r.getLong(0) == 5L)
    // hello(2)+world(2)+this(1)+is(1)+fine(1) pieces + 1 comma = 8
    assert(r.getLong(1) == 8L)
  }

  test("fingerprint: whitespace/case-insensitive, content-sensitive") {
    val a = TextAnalysis.fingerprint64("Hello   World")
    val b = TextAnalysis.fingerprint64("hello world")
    val c = TextAnalysis.fingerprint64("hello word")
    assert(a == b)
    assert(a != c)
  }

  test("multimodal: decode stub round-trips the synthetic container, batch-shaped") {
    val media = Multimodal.syntheticMedia(spark, 200)
    val decoded = Multimodal.decodeAndFeatures(media).cache()
    assert(decoded.count() == 200)
    assert(decoded.filter(_.ok).count() == 200)
    val kinds = decoded.toDF().groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet == Set("image", "audio", "video"))
    // malformed blob survives as ok=false, job does not fail
    val bad = Seq(Multimodal.MediaRow(999L, "image", Array[Byte](1, 2, 3))).toDS()
    val badDec = Multimodal.decodeAndFeatures(bad).collect()
    assert(badDec.length == 1 && !badDec.head.ok)
  }

  test("multimodal: frame sampling explodes video blobs only") {
    val media = Multimodal.syntheticMedia(spark, 100)
    val frames = Multimodal.sampleFrames(media, stride = 2)
    val perVideo = frames.groupBy("media_id").count()
    assert(frames.count() > 0)
    assert(frames.select("frame_idx").distinct().collect().forall(_.getInt(0) % 2 == 0))
    val videoIds = Multimodal.decodeAndFeatures(media).filter(_.kind == "video")
      .map(_.media_id).collect().toSet
    assert(perVideo.collect().forall(r => videoIds.contains(r.getLong(0))))
  }

  test("ER pipeline is kill-and-resume safe across the full stage graph") {
    import graft.pipeline.ErPipelineRunner
    val root = Files.createTempDirectory("er_pipe").toString
    val r1 = ErPipelineRunner.run(spark, root, nPages = 60)
    assert(r1.stagesComputed == Seq("mentions", "match_edges", "clusters"))
    // materialize eagerly: later runs overwrite the snapshot files this
    // lazy DataFrame points at
    val c1 = r1.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val n1 = c1.size.toLong
    // full resume: everything from snapshots
    val r2 = ErPipelineRunner.run(spark, root, nPages = 60)
    assert(r2.stagesComputed.isEmpty && r2.stagesFromSnapshot.size == 3)
    assert(r2.clusters.count() == n1)
    // kill mid-run: clusters manifest missing -> only clusters recomputes
    Files.delete(java.nio.file.Paths.get(graft.pipeline.Pipeline.manifestPath(root, "clusters")))
    val r3 = ErPipelineRunner.run(spark, root, nPages = 60)
    assert(r3.stagesComputed == Seq("clusters") && r3.stagesFromSnapshot.size == 2)
    val c3 = r3.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(c1 == c3, "resumed run must reproduce identical clusters")
  }

  test("jaro_winkler fast byte path agrees with the String implementation") {
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new scala.util.Random(13)
    val alphabet = "abcdefghijklmnopqrstuvwxyz "
    (0 until 3000).foreach { _ =>
      val s1 = (0 until rng.nextInt(20)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
      val s2 = (0 until rng.nextInt(20)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
      val fast = graft.functions.JaroWinklerExpr.similarity(
        UTF8String.fromString(s1), UTF8String.fromString(s2))
      val exact = graft.er.Scoring.jaroWinkler(s1, s2)
      assert(math.abs(fast - exact) < 1e-12, s"'$s1' vs '$s2': $fast != $exact")
    }
    // non-ASCII falls back to the exact path
    val f = graft.functions.JaroWinklerExpr.similarity(
      UTF8String.fromString("jörn münch"), UTF8String.fromString("jörn munch"))
    assert(math.abs(f - graft.er.Scoring.jaroWinkler("jörn münch", "jörn munch")) < 1e-12)
  }

  test("fast_levenshtein agrees with Spark's built-in levenshtein everywhere") {
    import org.apache.spark.unsafe.types.UTF8String
    val rng = new scala.util.Random(29)
    val alphabet = "abcdefghij "
    def check(s1: String, s2: String): Unit = {
      val fast = graft.functions.FastLevenshteinExpr.distance(
        UTF8String.fromString(s1), UTF8String.fromString(s2))
      val ref = UTF8String.fromString(s1).levenshteinDistance(UTF8String.fromString(s2))
      assert(fast == ref, s"'$s1' vs '$s2': $fast != $ref")
    }
    (0 until 3000).foreach { _ =>
      val s1 = (0 until rng.nextInt(18)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
      val s2 = (0 until rng.nextInt(18)).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
      check(s1, s2)
      // the match-population shapes: identical, and shared prefix/suffix
      check(s1, s1)
      check(s1 + "x" + s2, s1 + "y" + s2)
    }
    // non-ASCII falls back to UTF8String.levenshteinDistance itself
    check("jörn münch", "jörn munch")
    check("日本語テキスト", "日本語テスト")
  }

  test("jaro_winkler SQL function: codegen path agrees with the plain scorer") {
    graft.GraftExtensions.registerAll(spark)
    val r = spark.sql("SELECT jaro_winkler('john smith', 'john smiht') AS jw").head().getDouble(0)
    assert(math.abs(r - graft.er.Scoring.jaroWinkler("john smith", "john smiht")) < 1e-12)
    val nullR = spark.sql("SELECT jaro_winkler(NULL, 'x') AS jw").head()
    assert(nullR.isNullAt(0))
  }

  test("GraftExtensions: all three native expressions callable from SQL; extension injection applies") {
    graft.GraftExtensions.registerAll(spark)
    val jw = spark.sql("SELECT jaro_winkler('martha', 'marhta') AS v").head().getDouble(0)
    assert(math.abs(jw - graft.er.Scoring.jaroWinkler("martha", "marhta")) < 1e-12)
    val slj = spark.sql(
      "SELECT sorted_long_jaccard(array(1L,2L,3L), array(2L,3L,4L)) AS v").head().getDouble(0)
    assert(math.abs(slj - 0.5) < 1e-12)
    val cs = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS v").head().getDouble(0)
    assert(math.abs(cs - 1.0) < 1e-12)
    // the spark.sql.extensions wiring accepts the injection
    new graft.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // wrong arity fails analysis instead of building a bad plan
    intercept[Exception](spark.sql("SELECT jaro_winkler('a') AS v").collect())
  }

  test("pipeline: stages snapshot, resume skips completed work, manifests carry lineage") {
    val root = Files.createTempDirectory("graft_pipe").toString
    var computesA = 0
    var computesB = 0
    def runAll(): Unit = {
      val a = Pipeline.stage(spark, root, "stage_a") {
        computesA += 1
        spark.range(0, 1000).toDF("id")
      }
      Pipeline.stage(spark, root, "stage_b", upstream = Seq("stage_a")) {
        computesB += 1
        a.df.withColumn("x", col("id") * 2)
      }
      ()
    }
    runAll()
    assert(computesA == 1 && computesB == 1)
    // resume: nothing recomputes
    runAll()
    assert(computesA == 1 && computesB == 1)
    // kill simulation: delete stage_b's manifest (uncommitted) → only b reruns
    Files.delete(java.nio.file.Paths.get(Pipeline.manifestPath(root, "stage_b")))
    runAll()
    assert(computesA == 1 && computesB == 2)
    // upstream invalidation: stage_a republished with 1001 rows → b recomputes
    Files.delete(java.nio.file.Paths.get(Pipeline.manifestPath(root, "stage_a")))
    Pipeline.stage(spark, root, "stage_a")(spark.range(0, 1001).toDF("id"))
    runAll()
    assert(computesB == 3)
    // manifest has per-partition lineage
    val m = new String(Files.readAllBytes(
      java.nio.file.Paths.get(Pipeline.manifestPath(root, "stage_b"))))
    assert(m.contains("\"partition_rows\":[") && m.contains("\"upstream\":{\"stage_a\":"))
  }
}
