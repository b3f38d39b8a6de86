package graft.util

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessions
import graft.dedup.Dedup
import graft.queries.{ErQueries, Queries, TrainingDataQueries}

class SessionMemoSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  // CacheManager.numCachedEntries is private[sql] in Scala, public in bytecode
  private def numCachedEntries(): Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("racing threads on one key run the build once and share its value") {
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            gate.await()
            SessionMemo.entry(spark, "memo-spec.race") {
              builds.incrementAndGet()
              Thread.sleep(100)
              new Object
            }(_ => Nil)
          }
        })
      }
      gate.countDown()
      val values = got.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a build may read another entry whose key shares its hash bin") {
    // "Aa" and "BB" have equal String hash codes, so do the registry keys
    // that end in them: a nested computeIfAbsent on one bin would throw
    // IllegalStateException("Recursive update")
    assert("Aa".hashCode == "BB".hashCode)
    val outer = SessionMemo.entry(spark, "Aa") {
      SessionMemo.entry(spark, "BB")("bb")(_ => Nil) + "|aa"
    }(_ => Nil)
    assert(outer == "bb|aa")
    assert(SessionMemo.entry[String](spark, "BB")(fail("BB was rebuilt"))(_ => Nil) == "bb")
  }

  test("a build that throws caches nothing, and the next access builds again") {
    val builds = new AtomicInteger
    def get(): String = SessionMemo.entry(spark, "memo-spec.flaky") {
      if (builds.incrementAndGet() == 1) throw new RuntimeException("first build fails")
      "built"
    }(_ => Nil)
    intercept[RuntimeException](get())
    assert(get() == "built")
    assert(get() == "built")
    assert(builds.get == 2)
  }

  test("catalog reuse: a second pass over the memo-backed queries reads the first pass's frames") {
    // a fresh dir, so every entry is built here; the ER corpus is sized by
    // the dir name (400 pages), the documents hold planted near-copies
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("memo_catalog").toString
    val rng = new scala.util.Random(7)
    val base = (0 until 60).map { i =>
      (i.toLong, (0 until 30).map(_ => "w" + rng.nextInt(200)).mkString(" "), "en", s"s${i % 3}")
    }
    val copies = base.take(15).map { case (id, text, lang, src) =>
      (id + 1000L, text.split(' ').take(24).mkString(" "), lang, src)
    }
    (base ++ copies).toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val queries = graft.SparkEntry.queries
    val names = Seq("er_clusters", "er_pairwise_eval", "dd_containment_pairs",
      "q15_jaccard_pairs", "dd_survivors")
    spark.catalog.clearCache()
    def pass(): Seq[AnyRef] = {
      names.foreach(n => queries(n)(spark, dir).collect())
      Dedup.releaseSignatures()
      Seq(ErQueries.erClusters(spark, dir), ErQueries.erScoredPairs(spark, dir),
        ErQueries.mentions(spark, dir), Queries.ddContainmentPairs(spark, dir),
        TrainingDataQueries.ddMinhashPairs(spark, dir))
    }
    val first = pass()
    val second = pass()
    first.zip(second).foreach { case (a, b) => assert(a eq b) }
    // 7 at the commit before the registry: the 7 memo frames these queries
    // build (extraction, mentions, scored pairs, clusters, sorted tokens,
    // containment pairs, minhash pairs)
    assert(numCachedEntries() == 7)
  }

  test("another application's entries are removed: built ones released once, unbuilt ones never built") {
    val (appA, appB) = ("memo-spec-app-A", "memo-spec-app-B")
    val df = spark.range(10).toDF("id").persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    val releases = new AtomicInteger
    SessionMemo.entry(appA, "built")(df) { d => releases.incrementAndGet(); Seq(d) }
    // a holder whose build failed is the registry's one unbuilt state
    val unbuiltBuilds = new AtomicInteger
    val unbuiltReleases = new AtomicInteger
    intercept[RuntimeException] {
      SessionMemo.entry(appA, "unbuilt") {
        unbuiltBuilds.incrementAndGet()
        throw new RuntimeException("never built")
      } { (_: Unit) => unbuiltReleases.incrementAndGet(); Nil }
    }

    SessionMemo.entry(appB, "other")(())(_ => Nil)
    SessionMemo.entry(appB, "other")(())(_ => Nil)
    assert(releases.get == 1)
    assert(df.storageLevel == StorageLevel.NONE)
    assert(unbuiltBuilds.get == 1 && unbuiltReleases.get == 0)
    // removed, not kept: application A's key builds afresh
    assert(SessionMemo.entry(appA, "built")("rebuilt")(_ => Nil) == "rebuilt")
    // the next access by the real application removes both fake ones
    SessionMemo.entry(spark, "memo-spec.evict")(())(_ => Nil)
  }
}
