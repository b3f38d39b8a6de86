package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.er.BlockPairs
import graft.sim.Ann

class DedupAnnSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark
  import spark.implicits._

  // deterministic doc corpus with planted near-dups
  private def docs(n: Int) = {
    val rng = new scala.util.Random(11)
    val base = (0 until n).map { i =>
      val words = (0 until 40).map(_ => "w" + rng.nextInt(500))
      (i.toLong, words.mkString(" "))
    }
    // plant near-duplicates: id+1000 = same text with one word changed
    val nearDups = base.take(n / 4).map { case (id, t) =>
      (id + 1000L, t.split(' ').updated(3, "CHANGED").mkString(" "))
    }
    // plant exact duplicates: id+2000 = identical
    val exact = base.take(n / 8).map { case (id, t) => (id + 2000L, t) }
    (base ++ nearDups ++ exact).toDF("doc_id", "text")
  }

  test("exact dedup groups find planted exact duplicates, keep-min survivor") {
    val d = docs(80)
    val g = Dedup.exactGroups(d, "doc_id", "text")
    val dups = g.where(col("dup_count") > 1).collect()
    assert(dups.length == 10) // n/8 planted
    assert(dups.forall(_.getLong(2) < 1000L), "survivor must be the minimum id")
  }

  test("minhash LSH finds planted near-duplicates with high estimated jaccard") {
    val d = docs(80)
    val pairs = Dedup.minhashPairs(d, "doc_id", "text", shingleK = 5, nHashes = 64,
      rowsPerBand = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted near-dup pair (i, i+1000) must be found
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, i + 1000L)), s"missing near-dup pair $i")
    }
    // exact dups too (jaccard 1.0)
    (0 until 10).foreach { i =>
      assert(pairs.contains((i.toLong, i + 2000L)), s"missing exact pair $i")
    }
  }

  test("minhash estimated jaccard approximates true shingle jaccard") {
    val t1 = "the quick brown fox jumps over the lazy dog and runs away fast today"
    val t2 = "the quick brown fox jumps over the lazy cat and runs away fast today"
    val s1 = Dedup.charShingles(t1, 5)
    val s2 = Dedup.charShingles(t2, 5)
    val trueJ = s1.intersect(s2).size.toDouble / s1.union(s2).size
    val m1 = Dedup.minhash(s1, 256)
    val m2 = Dedup.minhash(s2, 256)
    val estJ = m1.zip(m2).count { case (a, b) => a == b }.toDouble / 256
    assert(math.abs(trueJ - estJ) < 0.12, s"true=$trueJ est=$estJ")
  }

  test("simhash pairs find near-duplicates within hamming radius") {
    val d = docs(80)
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact duplicates have hamming 0 — must all be present
    (0 until 10).foreach { i =>
      assert(pairs.contains((i.toLong, i + 2000L)), s"missing exact pair $i at hamming 0")
    }
    // one-word-changed docs have small hamming; most should be caught
    val caught = (0 until 20).count(i => pairs.contains((i.toLong, i + 1000L)))
    assert(caught >= 15, s"simhash caught only $caught/20 near-dups")
  }

  test("simhash is deterministic and order-insensitive in hamming check") {
    val h1 = Dedup.simhash64(Seq("a", "b", "c", "a"))
    val h2 = Dedup.simhash64(Seq("a", "b", "c", "a"))
    assert(h1 == h2)
    assert(java.lang.Long.bitCount(h1 ^ Dedup.simhash64(Seq("a", "b", "c"))) <= 20)
  }

  test("embedding dup pairs: planted near-identical vectors found, verified by cosine") {
    val rng = new scala.util.Random(3)
    val base = (0 until 60).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
    val dups = base.take(15).map { case (id, v) =>
      (id + 100L, v.map(x => x + 0.01f * rng.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val found = Dedup.embeddingDupPairs(df, "vec_id", "embedding", minCosine = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val caught = (0 until 15).count(i => found.contains((i.toLong, i + 100L)))
    assert(caught >= 13, s"embedding LSH caught only $caught/15 planted dups")
    // precision: verify step guarantees cosine >= threshold for all pairs
    val all = Dedup.embeddingDupPairs(df, "vec_id", "embedding", minCosine = 0.98)
      .collect()
    assert(all.forall(_.getDouble(2) >= 0.98))
  }

  test("dedup bucket cap bounds mega-bucket tasks without losing planted near-dup recall") {
    // mega-bucket: 400 docs sharing identical boilerplate text -> every
    // minhash band is one bucket of 400; cap at 50 forces sub-bucketing
    val boiler = (0 until 400).map(i => (5000L + i, "the same boilerplate text repeated for every page in this crawl"))
    val d = docs(80).union(boiler.toDF("doc_id", "text"))
    val capped = Dedup.minhashPairs(d, "doc_id", "text", shingleK = 5, nHashes = 64,
      rowsPerBand = 8, minJaccard = 0.5, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted near-dups (id, id+1000) from docs() must all still be found —
    // their buckets are small and untouched by the cap
    val planted = (0 until 20).map(i => (i.toLong, i + 1000L))
    planted.foreach { p => assert(capped.contains(p), s"planted near-dup $p lost") }
    // and the boilerplate clique is still (partially) detected inside
    // sub-buckets: every found boiler pair is a true duplicate
    val boilerPairs = capped.filter(_._1 >= 5000L)
    assert(boilerPairs.nonEmpty, "mega-bucket pairs entirely lost")
    // bounded tasks, read off the bucketed relation the pair kernel
    // reads: every bucket above the cap is split into ceil(size / cap)
    // sub-buckets. The split is a hash, so a sub-bucket holds ~cap rows,
    // not at most cap (the largest here holds 65 of the 400), and never
    // the whole mega-bucket.
    val rows = Dedup.minhashSigs(d, "doc_id", "text", 5, 64)
      .select(col("id"), Dedup.minhashBands(8, 8).as("keys"))
    val sizes = BlockPairs.bucketed(rows, BlockPairs.census(rows, 50))
      .groupBy("bkey").count().collect().map(r => r.getString(0) -> r.getLong(1))
    val unsplit = sizes.filter { case (b, n) => n > 50 && !b.contains("#") }
    assert(unsplit.isEmpty, s"buckets above the cap were not split: ${unsplit.toSeq}")
    val split = sizes.filter(_._1.contains("#")).groupBy(_._1.takeWhile(_ != '#'))
    assert(split.size == 8, s"expected the 8 boilerplate band buckets split, got ${split.keys}")
    split.foreach { case (key, subs) =>
      val n = subs.map(_._2).sum
      assert(subs.length <= BlockPairs.nb(n, 50), s"$key: ${subs.length} sub-buckets for $n rows")
      assert(subs.map(_._2).max <= 2 * 50, s"$key: a sub-bucket holds ${subs.map(_._2).max} of $n rows")
    }
  }

  test("simhashPairs pigeonhole contract: EVERY within-radius pair found, incl. negative signatures") {
    // the signed div/% band bucketing silently dropped pairs whose
    // signatures differed in the sign bit (and mis-bucketed negative sims
    // on borrow boundaries) — round-5 review; unsigned extraction makes
    // banding exact again. This test brute-forces the full within-radius
    // pair set over mixed-sign signatures and demands set EQUALITY.
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(23)
    val base = (0 until 400).map { i =>
      (i.toLong, (0 until 100).map(_ => "w" + rng.nextInt(500)).mkString(" "))
    }
    // one-token mutation: ~100-token docs flip only the low-margin bits,
    // so most planted pairs land within Hamming 8
    val variants = base.map { case (id, t) =>
      (id + 10000L, t.split(' ').updated(5, "ALT" + (id % 7)).mkString(" "))
    }
    val all = base ++ variants
    val sims = all.map { case (id, t) => id -> Dedup.simhash64(t.split(' ').toSeq) }.toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val ids = all.map(_._1).sorted
    val withinRadius = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      if ham(sims(ids(i)), sims(ids(j))) <= 8
    } yield (ids(i), ids(j))).toSet
    val mixedSign = withinRadius.count { case (a, b) => (sims(a) < 0) != (sims(b) < 0) }
    val negNeg = withinRadius.count { case (a, b) => sims(a) < 0 && sims(b) < 0 }
    assert(withinRadius.nonEmpty && mixedSign > 0 && negNeg > 0,
      s"fixture must exercise mixed-sign (got $mixedSign) and neg-neg ($negNeg) pairs")
    val found = Dedup.simhashPairs(all.toDF("doc_id", "text"), "doc_id", "text",
      maxHamming = 8, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == withinRadius,
      s"banding lost ${(withinRadius -- found).size} within-radius pairs " +
        s"(found ${found.size}/${withinRadius.size})")
    Dedup.releaseSignatures()
  }

  test("simhashPairs DEFAULT maxBucket is the capped web-scale value; exhaustive is opt-in") {
    // the driver surface and the library default must agree (round-4 advice:
    // a new caller used to get the exhaustive Int.MaxValue behavior)
    assert(Dedup.DefaultMaxBucket == 4096)
    val d = docs(60)
    val byDefault = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byExplicitCap = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 6,
      maxBucket = Dedup.DefaultMaxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byDefault == byExplicitCap)
    Dedup.releaseSignatures()
  }

  test("survivors refuses a near-pair table whose build parameters drifted") {
    val d = docs(40)
    val pairs = Dedup.minhashPairs(d, "doc_id", "text", shingleK = 5, nHashes = 64,
      rowsPerBand = 8, minJaccard = 0.5)
    // parameter drift fails loudly instead of silently changing clusters
    val drifted = Dedup.NearPairTable(pairs, shingleK = 4, nHashes = 64,
      rowsPerBand = 8, minJaccard = 0.5, maxBucket = Dedup.DefaultMaxBucket)
    val ex = intercept[IllegalArgumentException] {
      Dedup.survivors(d, "doc_id", "text", nearPairs = Some(drifted))
    }
    assert(ex.getMessage.contains("parameter drift"))
    // a wrong-shaped pair table fails at construction
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.NearPairTable(d.select(col("doc_id")), 5, 64, 8, 0.5, Dedup.DefaultMaxBucket)
    }
    assert(ex2.getMessage.contains("id_a"))
    // the matching config passes and reproduces the self-computed path
    val ok = Dedup.NearPairTable(pairs, 5, 64, 8, 0.5, Dedup.DefaultMaxBucket)
    val viaBypass = Dedup.survivors(d, "doc_id", "text", nearPairs = Some(ok))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val direct = Dedup.survivors(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(viaBypass == direct)
    Dedup.releaseSignatures()
  }

  test("survivors: planted dup families collapse to one keeper, tiers labeled, partitioning-invariant") {
    val d = docs(80)
    val dec = Dedup.survivors(d, "doc_id", "text",
      shingleK = 5, nHashes = 64, rowsPerBand = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byId = dec.map(t => t._1 -> t).toMap
    // every input row gets exactly one decision
    assert(dec.length == d.count())
    // planted exact dup (id+2000 == id) drops as "exact" onto the base id
    (0 until 10).foreach { i =>
      val (_, surv, tier) = byId(i + 2000L)
      assert(surv == i.toLong && tier == "exact", s"exact dup $i: ($surv, $tier)")
    }
    // planted near dup (id+1000, one word changed) drops as near/exact onto
    // a family whose survivor is the base id
    (0 until 20).foreach { i =>
      val (_, surv, tier) = byId(i + 1000L)
      assert(surv == i.toLong && tier != "keep", s"near dup $i: ($surv, $tier)")
    }
    // keepers keep themselves; families have exactly one keeper
    dec.foreach { case (id, surv, tier) =>
      assert((tier == "keep") == (id == surv))
      assert(byId(surv)._3 == "keep", s"survivor $surv of $id is not a keeper")
    }
    // partitioning-invariance: same decisions from a different layout
    val dec2 = Dedup.survivors(d.repartition(13), "doc_id", "text",
      shingleK = 5, nHashes = 64, rowsPerBand = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(dec.sortBy(_._1).toSeq == dec2.sortBy(_._1).toSeq)
  }

  test("ANN brute-force top-k matches in-JVM exact computation") {
    val rng = new scala.util.Random(5)
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian()))).toArray
    val df = vecs.map { case (id, v) => (id, v.map(_.toFloat)) }.toSeq.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 5)
    val got = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted

    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = (0 until 5).flatMap { q =>
      val qv = vecs(q)._2.map(_.toFloat.toDouble)
      vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, v.map(_.toFloat.toDouble))) }
        .sortBy { case (id, c) => (-c, id) }
        .take(3).zipWithIndex
        .map { case ((id, _), r) => (q.toLong, r + 1, id) }
    }.sorted
    assert(got.toSeq == want)
  }

  test("incremental survivors fold equals batch survivors over the union (tier flips included)") {
    val d = docs(80) // planted near dups (+1000) and exact dups (+2000)
    val standing = d.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = d.where(pmod(col("doc_id"), lit(3)) === 0)
    // mod-3 split guarantees cross-split structure: e.g. exact dup 2001
    // (batch) duplicates standing doc 1 — a standing doc's tier must flip
    val idx = Dedup.buildSurvivorIndex(standing, "doc_id", "text")
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val got = table(Dedup.survivorsIncrementalDelta(idx, batch, "doc_id", "text").full)
    val want = table(Dedup.survivors(d, "doc_id", "text"))
    assert(got.size === want.size, s"row counts differ: ${got.size} vs ${want.size}")
    assert(got === want)
    // the fixture must actually exercise a cross-split merge: some batch
    // doc's survivor is a standing doc (or vice versa)
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.exists { case (id, (surv, _)) =>
      batchIds(id) != batchIds(surv) && id != surv },
      "fixture never merged across the split — weaken nothing, fix the fixture")
    // the cross-split exact-dup case concretely: batch doc 2001
    // duplicates standing doc 1, so it drops with tier 'exact' into 1's
    // component (asserted against the expected values, not just got==want)
    assert(got(2001L) === ((1L, "exact")), s"cross-split exact dup: ${got(2001L)}")
  }

  test("a smaller-id batch exact-dup takes over a standing keeper (tier flip)") {
    val standing = Seq((10L, "zeta eta theta unique document")).toDF("doc_id", "text")
    val batch = Seq((5L, "zeta eta theta unique document")).toDF("doc_id", "text")
    val idx = Dedup.buildSurvivorIndex(standing, "doc_id", "text")
    val got = Dedup.survivorsIncrementalDelta(idx, batch, "doc_id", "text").full
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // standing doc 10 WAS its own keeper; the smaller-id batch duplicate
    // takes over, flipping 10 to a dropped exact duplicate
    assert(got(5L) === ((5L, "keep")))
    assert(got(10L) === ((5L, "exact")), s"standing keeper did not flip: ${got(10L)}")
    val want = Dedup.survivors(
      standing.unionByName(batch), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got === want)
  }

  test("containment victims flip to the 'contained' tier (short doc quoted in a long one)") {
    // round-6: the boilerplate-expansion case — a short doc fully quoted
    // inside a longer one scores low Jaccard (invisible to the exact and
    // minhash tiers) but high containment; feeding the containment edges
    // into survivors() must drop the victim with its own tier
    val longToks = (0 until 40).map("t" + _)
    val df = Seq(
      (1L, "en", "web", longToks.mkString(" ")),
      (7L, "en", "web", longToks.take(10).mkString(" ")),
      (3L, "en", "web", (100 until 140).map("u" + _).mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")
    val cont = graft.queries.Queries.containmentPairs(df)
    assert(cont.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((7L, 1L)), "fixture: exactly one directional containment pair")
    def table(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // without containment the victim is INVISIBLE — a singleton keeper
    val base = table(Dedup.survivors(df, "doc_id", "text"))
    assert(base(7L) === ((7L, "keep")),
      "fixture broken: victim must be invisible to the symmetric tiers")
    val got = table(Dedup.survivors(df, "doc_id", "text",
      containmentPairs = Some(cont)))
    assert(got(7L) === ((1L, "contained")), s"victim did not flip: ${got(7L)}")
    assert(got(1L) === ((1L, "keep")), "container stays the family keeper")
    assert(got(3L) === ((3L, "keep")), "unrelated doc unaffected")
  }

  test("containment-aware incremental fold equals batch fused survivors over the union") {
    // round-6: FullSurvivorIndex maintains all THREE edge tiers across a
    // fold. Planted cross-split containment in BOTH directions (the two
    // probe paths), on top of docs(80)'s cross-split exact + near dups.
    val xs = (0 until 40).map("x" + _)
    val vs = (0 until 40).map("v" + _)
    val extra = Seq(
      (4000L, xs.mkString(" ")),          // standing container (mod 3 = 1)
      (4002L, xs.take(10).mkString(" ")), // BATCH victim (mod 3 = 0)
      (4008L, vs.mkString(" ")),          // BATCH container (mod 3 = 0)
      (4010L, vs.take(10).mkString(" "))) // standing victim (mod 3 = 2)
      .toDF("doc_id", "text")
    val d = docs(80).unionByName(extra)
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
    val standing = d.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = d.where(pmod(col("doc_id"), lit(3)) === 0)
    val fidx = Dedup.buildFullSurvivorIndex(standing, "doc_id", "text")
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val got = table(Dedup.survivorsFullIncrementalDelta(fidx, batch, "doc_id", "text").full)
    val want = table(Dedup.survivors(d, "doc_id", "text",
      containmentPairs = Some(graft.queries.Queries.containmentPairs(d))))
    assert(got.size === want.size, s"row counts differ: ${got.size} vs ${want.size}")
    assert(got === want)
    // direction 1: a batch doc newly contained in a STANDING container
    assert(got(4002L) === ((4000L, "contained")), s"batch victim: ${got(4002L)}")
    // direction 2: a STANDING doc newly contained in a batch container —
    // only the contFull/contPrefix index probes can find this pair
    assert(got(4010L) === ((4008L, "contained")), s"standing victim: ${got(4010L)}")
    assert(got(4000L) === ((4000L, "keep")))
    assert(got(4008L) === ((4008L, "keep")))
    // the reuseCore path (one physical LSH index, containment-aware
    // clusters recomputed from the at-rest frames) is result-identical
    val fidx2 = Dedup.buildFullSurvivorIndex(standing, "doc_id", "text",
      reuseCore = Some(Dedup.buildSurvivorIndex(standing, "doc_id", "text")))
    val got2 = table(Dedup.survivorsFullIncrementalDelta(fidx2, batch, "doc_id", "text").full)
    assert(got2 === want, "reuseCore fold diverged from the fresh-build fold")
    // parameter drift fails loudly (the NearPairTable rule)
    assertThrows[IllegalArgumentException] {
      Dedup.buildFullSurvivorIndex(standing, "doc_id", "text", nHashes = 32,
        reuseCore = Some(Dedup.buildSurvivorIndex(standing, "doc_id", "text")))
    }
  }

  test("containment fold pairs equal the union's pairs minus the standing pairs (property, both directions)") {
    // a pair-level pin: survivor equality cannot see a missed pair inside
    // a family that other edges already merged
    import graft.queries.Queries
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (seed <- Seq(5L, 23L, 71L)) {
      val rng = new scala.util.Random(seed)
      val blocks = Seq(("en", "web"), ("en", "news"))
      val base = (0 until 60).map { i =>
        val (lang, source) = blocks(i % 2)
        (i.toLong, lang, source, (0 until 8 + rng.nextInt(24)).map(_ => "w" + rng.nextInt(40)).distinct)
      }
      // planted victims in the container's block: id + 100 sits on the
      // other side of the mod-3 split from every id ≢ 1 (both
      // directions), id + 201 on the same side (batch-batch for id ≡ 0)
      val plants = base.filter(_._1 % 4 == 0).flatMap { case (id, l, s, toks) =>
        Seq((id + 100L, l, s, toks.take(toks.size / 2 + 1)),
          (id + 201L, l, s, rng.shuffle(toks).take(toks.size * 5 / 6 + 1)))
      }
      val all = (base ++ plants).map { case (id, l, s, toks) => (id, l, s, toks.mkString(" ")) }
        .toDF("doc_id", "lang", "source", "text")
      val isBatch = pmod(col("doc_id"), lit(3)) === 0
      val (standing, batch) = (all.where(!isBatch), all.where(isBatch))
      val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
      val fidx = Dedup.buildFullSurvivorIndex(standing, "doc_id", "text")
      val got = pairs(Dedup.incrContainmentPairs(fidx, batch, "doc_id", "text"))
      val want = pairs(Queries.containmentPairs(all)).toSet --
        pairs(Queries.containmentPairs(standing))
      assert(got.size === got.toSet.size, s"seed $seed: a fold pair is emitted twice")
      assert(got.toSet === want, s"seed $seed: fold pairs differ from union minus standing")
      assert(want.exists { case (a, b) => batchIds(a) && !batchIds(b) },
        s"seed $seed: no batch doc contained in a standing one")
      assert(want.exists { case (a, b) => !batchIds(a) && batchIds(b) },
        s"seed $seed: no standing doc contained in a batch one")
      assert(want.exists { case (a, b) => batchIds(a) && batchIds(b) },
        s"seed $seed: no batch-batch pair")
      Dedup.releaseSignatures()
    }
  }

  test("incremental fold emits a batch-scale changed set; passthrough view equals batch survivors") {
    // round-7 (round-6 verdict item 3): the fold's OUTPUT volume must
    // track the batch — changed rows only, with every untouched standing
    // row passed through from the index's standing decision table.
    val d = docs(120)
    val standing = d.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val batch = d.where(pmod(col("doc_id"), lit(3)) === 0)
    val idx = Dedup.buildSurvivorIndex(standing, "doc_id", "text")
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val delta = Dedup.survivorsIncrementalDelta(idx, batch, "doc_id", "text")
    val full = table(delta.full)
    val want = table(Dedup.survivors(d, "doc_id", "text"))
    assert(full === want, "passthrough view diverges from batch survivors")
    val changed = table(delta.changed)
    // the changed set is a strict subset (untouched standing rows passed
    // through), and every changed row agrees with the full view
    assert(changed.size < full.size,
      s"no passthrough: changed=${changed.size} full=${full.size}")
    changed.foreach { case (k, v) => assert(full(k) === v, s"changed row $k") }
    // untouched rows come verbatim from the standing decisions
    val standingDecisions = table(idx.decisions)
    (full.keySet -- changed.keySet).foreach { k =>
      assert(standingDecisions(k) === full(k), s"passthrough row $k drifted")
    }
  }

  test("containment-aware bootstrap persists only the frames of the index it returns") {
    // every frame the bootstrap hands to `cache` must be in `frames`: an
    // orphaned persisted frame would leak one cache-manager entry per
    // bootstrap in a long-lived session
    val longToks = (0 until 40).map("t" + _)
    val df = (Seq(
      (1L, "en", "web", longToks.mkString(" ")),
      (7L, "en", "web", longToks.take(10).mkString(" ")),
      (3L, "en", "web", (100 until 140).map("u" + _).mkString(" "))) ++
      docs(20).collect().map(r => (r.getLong(0) + 5000L, "en", "web", r.getString(1))))
      .toDF("doc_id", "lang", "source", "text")
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val fidx = Dedup.buildFullSurvivorIndex(df, "doc_id", "text",
      cache = _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      reuseCore = None)
    fidx.frames.foreach(_.count())
    fidx.frames.foreach(_.unpersist(blocking = true))
    assert(cm.isEmpty, "the bootstrap left a persisted frame outside its index")
  }

  test("containment posting cap: hot token trimmed at rest with a loud census, rare-token pairs still exact") {
    // round-7 (round-6 verdict item 2): a hot token's container posting
    // list is the one unbounded read in the containment fold — cap it at
    // rest with a census and a logged drop count, keeping rare-token
    // containment (the prefix filter's working regime) exact.
    val hotDocs = (0 until 10).map { i =>
      (8000L + i, "en", "web",
        (Seq("hot") ++ (0 until 12).map(k => s"u${i}_$k")).mkString(" "))
    }
    val container = (9000L, "en", "web", (0 until 40).map("r" + _).mkString(" "))
    val standing = (hotDocs :+ container).toDF("doc_id", "lang", "source", "text")
    val victim = Seq((9002L, "en", "web", (0 until 10).map("r" + _).mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")

    // capped build: the hot posting (10 containers for token "hot")
    // exceeds maxPosting=3 and is trimmed, loudly
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    val fidx =
      try Dedup.buildFullSurvivorIndex(standing, "doc_id", "text", maxPosting = 3)
      finally System.setErr(oldErr)
    assert(fidx.hotPostingCount > 0, "hot posting key not detected")
    assert(new String(errBuf.toByteArray, "UTF-8").contains("trimmed to the hash-smallest"),
      "bootstrap did not log the trimmed census")
    val postingSizes = fidx.contFull.groupBy("lang", "source", "tok")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .agg(org.apache.spark.sql.functions.max("c")).head().getLong(0)
    assert(postingSizes <= 3, s"posting list not capped at rest: max=$postingSizes")

    // the rare-token containment pair is still found through the capped
    // index (its postings are under the cap), and the fold emits one
    // decision row per doc
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val got = table(Dedup.survivorsFullIncrementalDelta(fidx, victim, "doc_id", "text").full)
    assert(got.size === 12, s"one row per doc expected, got ${got.size}")
    assert(got(9002L) === ((9000L, "contained")), s"rare-token victim: ${got(9002L)}")

    // default cap: exact regime (no trimming), fold equals batch fused
    // survivors over the union
    val fidxD = Dedup.buildFullSurvivorIndex(standing, "doc_id", "text")
    assert(fidxD.hotPostingCount === 0L)
    val all = standing.unionByName(victim)
    val want = table(Dedup.survivors(all, "doc_id", "text",
      containmentPairs = Some(graft.queries.Queries.containmentPairs(all))))
    assert(table(Dedup.survivorsFullIncrementalDelta(fidxD, victim, "doc_id", "text").full) ===
      want)
  }

  test("curate_pipeline: staged verdicts compose the three gated stages consistently") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.TrainingDataQueries.curatePipeline(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(got.size === docs.count(), "one verdict per doc")
    assert(got.values.toSet.subsetOf(Set("gopher", "dedup", "cap", "keep")))
    // stage 1 agrees with the standalone gopher filter
    val gopherDrop = graft.queries.TrainingDataQueries.taGopherFilter(spark, dir)
      .where(!col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.filter(_._2 == "gopher").keySet === gopherDrop)
    // stage 3: at most SourceCapN keeps per source
    val srcOf = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val keepsPerSrc = got.collect { case (id, "keep") => srcOf(id) }
      .groupBy(identity).map(_._2.size)
    assert(keepsPerSrc.forall(_ <= 8), s"cap violated: $keepsPerSrc")
    // cap-drop count equals the independent computation over the dedup
    // keepers (0 at this sf — every source has <= 8 keepers; the nonzero
    // cap path is exercised by StreamMaintProbe and the sf0.01 oracle)
    val dedupKeepers = got.collect {
      case (id, v) if v == "cap" || v == "keep" => srcOf(id) }
    val wantCapDrops = dedupKeepers.groupBy(identity)
      .map { case (_, g) => math.max(0, g.size - 8) }.sum
    assert(got.values.count(_ == "cap") === wantCapDrops)
    // the composition is non-trivial on this corpus: the filter and
    // dedup stages both fire
    assert(Set("gopher", "dedup", "keep").forall(got.values.toSet.contains),
      s"fixture too weak, verdicts seen: ${got.values.toSet}")
    Dedup.releaseSignatures()
  }

  test("incremental IVF: frozen-centroid append equals one-shot assignment of the union") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val standing = e.where(pmod(col("vec_id"), lit(4)) =!= 0)
    val batch = e.where(pmod(col("vec_id"), lit(4)) === 0)
    val queries = e.where(col("vec_id") < 20)
    val idx = Ann.buildIvfIndex(spark, standing, "vec_id", "embedding")
    val folded = Ann.ivfAppend(spark, idx, batch, "vec_id", "embedding")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "nbr_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = ranks(Ann.ivfSearchIndex(spark, folded, queries,
      "vec_id", "embedding", k = 5, nProbe = 24))
    // one-shot reference: the SAME frozen centroids assign the whole
    // union at once (empty standing relation + append of everything)
    val ref = ranks(Ann.ivfSearchIndex(spark,
      Ann.ivfAppend(spark, idx.copy(assigned = idx.assigned.limit(0)), e,
        "vec_id", "embedding"),
      queries, "vec_id", "embedding", k = 5, nProbe = 24))
    assert(got === ref, "append fold diverged from one-shot assignment")
    // batch vectors must be reachable: some neighbor is batch-side
    assert(got.exists { case (_, _, nbr) => nbr % 4 == 0 },
      "no batch vector ever surfaced as a neighbor — fixture too easy or append broken")
    graft.dedup.Dedup.releaseSignatures()
  }

  test("ANN recall tally: self-recall is k, disjoint is 0, partial counts exactly") {
    val exact = Seq((1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L),
      (2L, 1, 20L), (2L, 2, 21L), (2L, 3, 22L))
      .toDF("query_id", "rank", "nbr_id")
    def tally(approx: org.apache.spark.sql.DataFrame) =
      Ann.recallCounts(approx, exact, k = 3).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // identical table → full recall
    assert(tally(exact) === Map(1L -> ((3L, 3L)), 2L -> ((3L, 3L))))
    // query 1 overlaps on 2 of 3 (ranks differ — order must not matter);
    // query 2 is entirely disjoint but must still appear with 0
    val approx = Seq((1L, 1, 12L), (1L, 2, 10L), (1L, 3, 99L),
      (2L, 1, 90L), (2L, 2, 91L), (2L, 3, 92L))
      .toDF("query_id", "rank", "nbr_id")
    assert(tally(approx) === Map(1L -> ((2L, 3L)), 2L -> ((0L, 3L))))
  }

  test("ANN brute-force per-partition top-k equals the windowed cross-join plan (ties, any partitioning)") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(21)
    val base = (0 until 60).map(i => (i.toLong, Array.fill(8)(rng.nextGaussian())))
    // planted duplicate vectors -> exact cosine ties, exercising the
    // (cosine desc, nbr_id asc) tie-break inside the heap
    val dups = (0 until 12).map(i => (1000L + i, base(i % 6)._2.clone()))
    val df = (base ++ dups).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding").repartition(7)
    val queries = df.where(col("vec_id") < 6)
    val got = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    // the v1 windowed plan, inline, as the semantics oracle
    val c = df.select(col("vec_id").cast("long").as("nbr_id"),
      col("embedding").cast("array<double>").as("cv"))
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("nbr_id").asc)
    val want = c.crossJoin(broadcast(q))
      .where(col("nbr_id") =!= col("query_id"))
      .withColumn("cosine", Dedup.cosineCol(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 4)
      .select(col("query_id"), col("rank"), col("nbr_id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("ANN IVF top-k: good recall vs brute force, deterministic under repartitioning") {
    val rng = new scala.util.Random(13)
    val df = (0 until 400).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Ann.ivfTopK(spark, df, queries, "vec_id", "embedding", k = 5,
      nLists = 16, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    info(f"ANN IVF recall@5 = $recall%.2f (nProbe=6/16 cells scanned)")
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // determinism: identical output under a different partitioning
    val ivf2 = Ann.ivfTopK(spark, df.repartition(13), queries, "vec_id", "embedding", k = 5,
      nLists = 16, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val ivf1 = Ann.ivfTopK(spark, df, queries, "vec_id", "embedding", k = 5,
      nLists = 16, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(ivf1 == ivf2, "IVF output must be partitioning-invariant")
  }

  test("IVF auto-nLists scales with the corpus and keeps per-cell candidate counts bounded") {
    // parameter guidance locked as a spec: nLists <= 0 derives ~sqrt(n),
    // so probe cost per query stays ~nProbe * sqrt(n) instead of decaying
    // to a partial scan when the corpus grows 10x.
    assert(Ann.autoNLists(400) == 20)
    assert(Ann.autoNLists(4000) == 63)
    assert(Ann.autoNLists(4L * 1000 * 1000 * 1000 * 1000) == 65536) // clamp
    val rng = new scala.util.Random(13)
    def corpus(n: Int) = (0 until n)
      .map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // 10x the recall-test corpus, auto nLists
    val big = corpus(4000)
    val Ann.IvfIndex(assigned, cents) = Ann.ivfAssign(spark, big, "vec_id", "embedding", nLists = 0)
    assert(cents.value.length == 63)
    val cells = assigned.groupBy("cell").count()
      .collect().map(r => r.getLong(1))
    val mean = 4000.0 / cents.value.length
    // Lloyd on gaussian data is imbalanced but bounded: no cell may hold a
    // corpus-scale fraction (a fixed nLists at 10x data would blow this)
    assert(cells.max <= 20 * mean, s"max cell ${cells.max} vs mean $mean")
    // and the probed candidate volume stays ~nProbe * sqrt(n): the mean
    // cell is sqrt(n)-sized by construction
    assert(mean <= 2 * math.sqrt(4000))
  }

  test("ANN LSH top-k achieves reasonable recall vs brute force") {
    val rng = new scala.util.Random(9)
    val df = (0 until 300).map(i => (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.lshTopK(spark, df, queries, "vec_id", "embedding", k = 5,
      nBits = 16, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"ANN LSH recall@5 = $recall%.2f (candidates pruned vs full scan)")
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }
}
