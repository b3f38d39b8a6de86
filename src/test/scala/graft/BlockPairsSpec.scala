package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.er.{BlockPairs, Blocking, Mentions}
import graft.functions.CosineExpr
import graft.synth.Synth

/** The banded-pair operator: its one sub-bucket formula against SQL, and
  * each dedup pair site against brute force — the raw band buckets capped
  * by the SQL formula, self-joined, verified by the SQL expression and
  * deduplicated on the pair ids. */
class BlockPairsSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  test("subBucket equals SQL pmod(xxhash64(id, key), nb) for block keys and band buckets") {
    val keys = Seq("s:barack obama", "p:bara:ob", "m3:1f2e3d4c5b6a7988", "d:example.org",
      "s:zürich", "3:-4711823467231", "0:9223372036854775807", "2:41234")
    val ids = Seq(0L, 1L, -1L, 42L, 123456789012345L, Long.MinValue, Long.MaxValue)
    val cases = for (k <- keys; id <- ids; nb <- Seq(2, 3, 7, 64)) yield (k, id, nb)
    val sql = cases.toDF("key", "id", "nb")
      .select(concat(col("key"), lit("#"), pmod(xxhash64(col("id"), col("key")), col("nb"))))
      .collect().map(_.getString(0)).toSeq
    val got = cases.map { case (k, id, nb) => BlockPairs.subBucket(k, id, nb) }
    assert(got == sql)
  }

  test("bucketed: ER block lists follow the formula, sorted per row") {
    val mentions = Mentions.fromPages(Synth.pages(spark, 80, 11L, 6))
    val configs = Seq(Blocking.Config(), Blocking.Config(maxBlock = 8),
      Blocking.Config(maxBlock = 2))
    for (cfg <- configs) {
      val k = Blocking.keyed(mentions)
      val nb = k.groupBy("key").agg(count("*").as("block_size"))
        .where(col("block_size") > cfg.maxBlock)
        .select(col("key"), ceil(col("block_size") / lit(cfg.maxBlock)).cast("int").as("nb"))
      val want = k.join(broadcast(nb), Seq("key"), "left")
        .select(when(col("nb").isNull, col("key"))
          .otherwise(concat(col("key"), lit("#"), pmod(xxhash64(col("id"), col("key")), col("nb"))))
          .as("bkey"), col("id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val keyed = Blocking.keyedWithAttrs(mentions, cfg).select("bkey", "id", "bkeys").collect()
      val got = keyed.map(r => (r.getString(0), r.getLong(1)))
      val exact = got.length == got.toSet.size && got.toSet == want
      assert(exact, s"$cfg: bkeys differ from the formula")
      val perId = got.groupBy(_._2).map { case (id, rs) =>
        id -> rs.map(_._1).sorted(Mentions.CodePointOrdering).toSeq
      }
      val badList = keyed.find(r => r.getSeq[String](2) != perId(r.getLong(1)))
      assert(badList.isEmpty, s"$cfg: block list is not the mention's sorted block set: $badList")
    }
  }

  /** Raw (bucket, id, payload…) rows capped with the SQL formula. */
  private def cappedBySql(raw: DataFrame, cap: Int): DataFrame = {
    val nb = raw.groupBy("bucket").agg(count("*").as("n")).where(col("n") > cap)
      .select(col("bucket"), ceil(col("n") / lit(cap)).cast("int").as("nb"))
    raw.join(broadcast(nb), Seq("bucket"), "left")
      .withColumn("bucket", when(col("nb").isNull, col("bucket"))
        .otherwise(concat(col("bucket"), lit("#"), pmod(xxhash64(col("id"), col("bucket")), col("nb")))))
      .drop("nb")
  }

  /** Checks a pair site against the capped self-join + `verify` + dedupe.
    * `verify` reads the `<col>_a` / `<col>_b` sides of the raw payload
    * columns and yields (value, keep). */
  private def checkSite(name: String, raw: DataFrame, smallCap: Int,
      site: Int => DataFrame, verify: (Column, Column)): Unit = {
    for (cap <- Seq(Dedup.DefaultMaxBucket, smallCap)) {
      val capped = cappedBySql(raw, cap).cache()
      def side(s: String) = capped.select(capped.columns.map(c =>
        if (c == "bucket") col(c) else col(c).as(s"${c}_$s")).toIndexedSeq: _*)
      val joined = side("a").join(side("b"), Seq("bucket")).where(col("id_a") < col("id_b"))
      val want = joined.select(col("id_a"), col("id_b"), verify._1.as("v"), verify._2.as("keep"))
        .where(col("keep")).select("id_a", "id_b", "v").dropDuplicates("id_a", "id_b")
      def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
      val (got, exp) = (rows(site(cap)), rows(want))
      val tag = s"$name, cap $cap"
      val repeats = got.size - got.map(r => (r.getLong(0), r.getLong(1))).distinct.size
      assert(repeats == 0, s"$tag: $repeats pairs emitted more than once")
      assert(got.size == exp.size, s"$tag: ${got.size} pairs vs ${exp.size} from brute force")
      val firstDiff = got.zip(exp).find { case (g, w) => g != w }
      assert(firstDiff.isEmpty, s"$tag: kernel row vs brute-force row $firstDiff")
      assert(exp.nonEmpty, s"$tag: the fixture yields no pair")
      val shared = joined.count()
      val distinct = joined.select("id_a", "id_b").distinct().count()
      assert(shared > distinct, s"$tag: no pair shares two buckets")
      if (cap == smallCap)
        assert(capped.where(col("bucket").contains("#")).count() > 0, s"$tag: no bucket was sub-bucketed")
      capped.unpersist()
    }
    Dedup.releaseSignatures()
  }

  // random docs, one-token variants of a quarter of them, and a flood of
  // identical boilerplate that fills one bucket in every band
  private def docs(n: Int, flood: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    val base = (0 until n).map(i => (i.toLong, (0 until 40).map(_ => "w" + rng.nextInt(300)).mkString(" ")))
    val near = base.take(n / 4).map { case (id, t) => (id + 1000L, t.split(' ').updated(3, "X").mkString(" ")) }
    val boiler = (0 until flood).map(i => (5000L + i, "the same boilerplate footer on every page of this crawl"))
    (base ++ near ++ boiler).toDF("doc_id", "text")
  }

  test("property: minhashPairs verifies each pair once, equal to the capped self-join + dedupe") {
    val d = docs(80, 120, 5)
    val raw = Dedup.minhashSigs(d, "doc_id", "text", 5, 64)
      .select(col("id"), col("sig"), explode(Dedup.minhashBands(8, 8)).as("bucket"))
    val est = expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast(64 as double)")
    checkSite("minhash", raw, 50,
      cap => Dedup.minhashPairs(d, "doc_id", "text", 5, 64, 8, 0.5, cap), (est, est >= 0.5))
  }

  test("property: simhashPairs verifies each pair once, equal to the capped self-join + dedupe") {
    val d = docs(150, 120, 7)
    val raw = d.as[(Long, String)].map { case (id, t) => (id, Dedup.simhash64(t.split(' ').toSeq)) }
      .toDF("id", "sim").select(col("id"), col("sim"), explode(Dedup.simhashBands(3)).as("bucket"))
    val ham = bit_count(col("sim_a") bitwiseXOR col("sim_b"))
    checkSite("simhash", raw, 50,
      cap => Dedup.simhashPairs(d, "doc_id", "text", 3, cap), (ham, ham <= 3))
  }

  test("property: embeddingDupPairs verifies each pair once, equal to the capped self-join + dedupe") {
    val rng = new scala.util.Random(9)
    val base = (0 until 120).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian())))
    val near = base.take(40).map { case (id, v) => (id + 1000L, v.map(_ + 0.05 * rng.nextGaussian())) }
    val flood = (0 until 60).map(i => (5000L + i, Array.fill(16)(1.0)))
    val d = (base ++ near ++ flood).toDF("vec_id", "embedding")
    val planes = Dedup.hyperplanes(42L, 16, 16)
    val raw = d.as[(Long, Array[Double])].map { case (id, v) => (id, v, Dedup.signSignature(planes, v)) }
      .toDF("id", "v", "sig").select(col("id"), col("v"), explode(Dedup.embeddingBands(16, 4)).as("bucket"))
    val cos = CosineExpr.cosine_sim(col("v_a"), col("v_b"))
    checkSite("embedding", raw, 20,
      cap => Dedup.embeddingDupPairs(d, "vec_id", "embedding", 0.9, 16, 4, 42L, cap), (cos, cos >= 0.9))
  }
}
