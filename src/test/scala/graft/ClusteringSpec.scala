package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.er.Clustering

class ClusteringSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  /** brute-force union-find oracle */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b); union(a, b) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def runCC(edges: Seq[(Long, Long)], forceLoop: Boolean = false): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("a", "b")
    // forceLoop: disable the driver union-find fast path so the iterative
    // star-contraction loop keeps its own coverage now that small graphs
    // default to the fast path
    if (forceLoop) spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try Clustering.connectedComponents(spark, df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally if (forceLoop) spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }

  /** Run `body` in the star-loop regime: the driver union-find finish is
    * off for every non-empty graph. */
  private def forcingLoop[T](body: => T): T = {
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try body finally spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }

  private def clusterMap(run: Clustering.CcRun): Map[Long, Long] =
    run.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Every path under `dir` whose file name satisfies `pred`. */
  private def walk(dir: String)(pred: String => Boolean): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try st.iterator().asScala.filter(p => pred(p.getFileName.toString)).toList
    finally st.close()
  }

  test("CC matches union-find on a hand case (chain + triangle + singleton edge)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
    assert(runCC(edges) == ufComponents(edges))
  }

  test("CC cluster id is the component minimum") {
    val edges = Seq((5L, 9L), (9L, 3L), (100L, 50L))
    val got = runCC(edges)
    assert(got(5L) == 3L && got(9L) == 3L && got(3L) == 3L)
    assert(got(100L) == 50L && got(50L) == 50L)
  }

  test("property: CC equals union-find on random graphs (seeded), in BOTH regimes") {
    val rng = new scala.util.Random(42)
    (0 until 8).foreach { round =>
      val n = 2 + rng.nextInt(40)
      val m = 1 + rng.nextInt(80)
      val edges = (0 until m).flatMap { _ =>
        val a = rng.nextLong(n.toLong + 1)
        val b = rng.nextLong(n.toLong + 1)
        if (a != b) Some((a, b)) else None
      }
      if (edges.nonEmpty) {
        val want = ufComponents(edges)
        // driver union-find fast path (the default at this edge count)...
        assert(runCC(edges) == want, s"round $round failed: $edges")
        // ...and the iterative star-contraction loop must assign identically
        assert(runCC(edges, forceLoop = true) == want,
          s"round $round (loop regime) failed: $edges")
      }
    }
  }

  test("checkpointed CC: kill mid-loop, resume at the last complete round, exact result") {
    forcingLoop {
      import spark.implicits._
      val edges = (0L until 120L).map(i => (i, (i + 11) % 120)) ++ Seq((500L, 501L), (501L, 502L))
      val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
      val df = edges.toDF("a", "b")

      // simulated kill: cap the loop at one contraction round
      val partial = Clustering.connectedComponentsCheckpointed(spark, df, dir, maxIter = 1)
      assert(!partial.converged, "120-node cycle cannot converge in one round")
      assert(partial.roundsComputed == 1 && partial.resumedFromRound == 0)

      // restart: picks up at round 1 (round 0 + 1 are snapshotted), converges,
      // and the clusters equal the union-find oracle / in-memory loop
      val resumed = Clustering.connectedComponentsCheckpointed(spark, df, dir, maxIter = 50)
      assert(resumed.resumedFromRound == 1, "second run must resume, not recompute round 1")
      assert(resumed.converged)
      val got = resumed.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ufComponents(edges))

      // a third invocation resumes the CONVERGED snapshot: zero rounds run
      val again = Clustering.connectedComponentsCheckpointed(spark, df, dir, maxIter = 50)
      assert(again.converged && again.roundsComputed == 0)

      // a different edge set through the same dir must not resume stale
      // rounds (input-signature namespacing)
      val edges2 = edges :+ ((502L, 0L))
      val r2 = Clustering.connectedComponentsCheckpointed(spark, edges2.toDF("a", "b"), dir, maxIter = 50)
      assert(r2.resumedFromRound == 0)
      val got2 = r2.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 == ufComponents(edges2))

      // storage discipline: the stale sibling namespace was pruned on entry
      // and the converged run kept only its FINAL round — one round dir and
      // one manifest total under the checkpoint dir
      assert(walk(dir)(_.startsWith("round_")).size == 1)
      val manifests = walk(dir)(_ == "_MANIFEST")
      assert(manifests.size == 1)

      // a truncated/corrupt manifest counts as an INCOMPLETE round: the next
      // run recomputes instead of crashing on parse
      java.nio.file.Files.write(manifests.head, "garbage".getBytes("UTF-8"))
      val r3 = Clustering.connectedComponentsCheckpointed(spark, edges2.toDF("a", "b"), dir, maxIter = 50)
      assert(r3.resumedFromRound == 0 && r3.converged)
      val got3 = r3.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got3 == ufComponents(edges2))
    }
  }

  test("checkpointed CC: a transient manifest read error fails loudly and keeps the converged snapshot") {
    forcingLoop {
      import spark.implicits._
      spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
      val local = java.nio.file.Files.createTempDirectory("cc_ckpt_faulty").toString
      val dir = "faulty://" + local
      val df = ((0L until 40L).map(i => (i, (i + 7) % 40)) :+ ((100L, 101L))).toDF("a", "b")
      assert(Clustering.connectedComponentsCheckpointed(spark, df, dir).converged)
      def roundDirs(): Seq[java.io.File] = new java.io.File(local).listFiles().toSeq
        .flatMap(_.listFiles().toSeq).filter(_.getName.startsWith("round_"))
      val converged = roundDirs()
      assert(converged.size == 1)
      // a non-FileNotFound read error on the converged round's manifest must
      // fail the call, not count the round as incomplete and prune it
      FaultyFs.failOpen = Set("_MANIFEST")
      try {
        val e = intercept[java.io.IOException](
          Clustering.connectedComponentsCheckpointed(spark, df, dir))
        assert(!e.isInstanceOf[java.io.FileNotFoundException], e.toString)
      } finally FaultyFs.failOpen = Set.empty
      assert(roundDirs() == converged && converged.head.isDirectory,
        "the converged snapshot was deleted after a transient read error")
      val again = Clustering.connectedComponentsCheckpointed(spark, df, dir)
      assert(again.converged && again.roundsComputed == 0)
    }
  }

  test("resume namespace separates duplicate-heavy multisets that xor-cancel (round-4 advice)") {
    forcingLoop {
      import spark.implicits._
      // both inputs: 4 edges, every edge with multiplicity 2 -> the xor
      // component cancels to 0 and (count, xor) collide; the wrapping
      // sum-hash component must still separate them, or graph B would
      // wrongly resume graph A's converged rounds
      val dir = java.nio.file.Files.createTempDirectory("cc_ns").toString
      val a = Seq((1L, 2L), (1L, 2L), (3L, 4L), (3L, 4L)).toDF("a", "b")
      val b = Seq((5L, 6L), (5L, 6L), (7L, 8L), (7L, 8L)).toDF("a", "b")
      val ra = Clustering.connectedComponentsCheckpointed(spark, a, dir, maxIter = 50)
      assert(ra.converged)
      val rb = Clustering.connectedComponentsCheckpointed(spark, b, dir, maxIter = 50)
      assert(rb.resumedFromRound == 0, "graph B resumed graph A's namespace")
      val got = rb.clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
    }
  }

  test("resume namespace keeps the decimal sum-hash formula when the hash sum wraps past 2^63") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, i + 1000L)).toDF("a", "b")
    // count, xor of xxhash64(a, b), and the low 64 bits of the EXACT sum
    // of the hashes, taken as a decimal: the namespace committed rounds
    // were written under, which must stay resumable
    val r = df.selectExpr("count(1)", "bit_xor(xxhash64(a, b))",
      "sum(cast(xxhash64(a, b) as decimal(38,0)))").head()
    val exact = r.getDecimal(2).toBigInteger
    assert(exact.bitLength() > 63, s"fixture hash sum $exact fits a long; it must wrap")
    val want = s"cc_${r.getLong(0)}_${java.lang.Long.toUnsignedString(r.getLong(1))}_" +
      java.lang.Long.toUnsignedString(exact.longValue())
    val dir = java.nio.file.Files.createTempDirectory("ns_wrap").toString
    assert(Clustering.connectedComponentsCheckpointed(spark, df, dir).converged)
    assert(walk(dir)(_.startsWith("cc_")).map(_.getFileName.toString) == Seq(want))
  }

  test("checkpointed CC within the driver threshold commits round 0 alone and finishes by union-find") {
    import spark.implicits._
    val edges = (0L until 120L).map(i => (i, (i + 11) % 120)) ++ Seq((500L, 501L), (501L, 502L))
    val df = edges.toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("cc_uf").toString
    val run = Clustering.connectedComponentsCheckpointed(spark, df, dir)
    assert(run.converged && run.roundsComputed == 0 && run.resumedFromRound == 0)
    // the one committed round is round 0, complete with its manifest
    val rounds = walk(dir)(_.startsWith("round_"))
    assert(rounds.map(_.getFileName.toString) == Seq("round_00000"))
    assert(walk(dir)(_ == "_MANIFEST").map(_.getParent) == rounds)
    val want = ufComponents(edges)
    assert(clusterMap(run) == want)
    val loopDir = java.nio.file.Files.createTempDirectory("cc_uf_loop").toString
    val loop = forcingLoop(Clustering.connectedComponentsCheckpointed(spark, df, loopDir))
    assert(loop.converged && loop.roundsComputed > 1)
    assert(clusterMap(loop) == want)
    // a second call resumes round 0 and finishes by union-find again
    val again = Clustering.connectedComponentsCheckpointed(spark, df, dir)
    assert(again.resumedFromRound == 0 && again.roundsComputed == 0 && again.converged)
    assert(clusterMap(again) == want)
  }

  test("maxIter exhaustion logs a loud non-convergence warning instead of silent under-merge") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    // the driver union-find fast path always converges — force the loop
    // regime, whose maxIter budget the warning guards
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try Clustering.connectedComponents(spark, edges, maxIter = 1).collect()
    finally {
      System.setErr(old)
      spark.conf.unset("spark.graft.cc.driverMaxEdges")
    }
    assert(new String(buf.toByteArray, "UTF-8").contains("WITHOUT converging"),
      "expected a non-convergence warning on stderr")
  }

  test("CC is deterministic under different input partitioning (both regimes)") {
    import spark.implicits._
    val edges = (0L until 200L).map(i => (i, (i + 7) % 200)) ++ Seq((500L, 600L))
    def run(parts: Int, forceLoop: Boolean): Seq[(Long, Long)] = {
      if (forceLoop) spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
      try Clustering.connectedComponents(spark, edges.toDF("a", "b").repartition(parts))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      finally if (forceLoop) spark.conf.unset("spark.graft.cc.driverMaxEdges")
    }
    val r1 = run(1, forceLoop = false)
    assert(r1 == run(13, forceLoop = false))
    assert(r1 == run(1, forceLoop = true))
    assert(r1 == run(13, forceLoop = true))
  }

  // ---- G7 incremental maintenance -----------------------------------------

  /** Batch-CC reference for the union graph over a universe of ids:
    * singletons keep themselves. */
  private def batchAssign(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val cc = ufComponents(edges)
    ids.map(i => i -> cc.getOrElse(i, i)).toMap
  }

  private def runIncremental(
      ids: Seq[Long], oldEdges: Seq[(Long, Long)], newEdges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val standing = Clustering.assign(
      spark, ids.toDF("id"),
      if (oldEdges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b") else oldEdges.toDF("a", "b"))
    val batch =
      if (newEdges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b") else newEdges.toDF("a", "b")
    Clustering.incrementalClustersWithDelta(spark, standing, batch).assignment
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("incremental CC: merging two standing clusters and linking brand-new ids is exact") {
    // standing: {1,2,3} and {10,11}, singleton 20; batch merges the two
    // clusters (3-10), hangs a brand-new chain (30-31, 31-10), and adds a
    // brand-new isolated pair (40-41)
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 20L)
    val oldE = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val newE = Seq((3L, 10L), (30L, 31L), (31L, 10L), (40L, 41L))
    val got = runIncremental(ids, oldE, newE)
    assert(got == batchAssign(ids ++ Seq(30L, 31L, 40L, 41L), oldE ++ newE))
    assert(got(11L) == 1L && got(31L) == 1L && got(20L) == 20L && got(41L) == 40L)
  }

  test("incremental CC: empty batch and within-cluster batch edges are no-ops") {
    val ids = Seq(1L, 2L, 3L, 7L)
    val oldE = Seq((1L, 2L), (2L, 3L))
    assert(runIncremental(ids, oldE, Seq.empty) == batchAssign(ids, oldE))
    // batch edges that collapse to self-loops after contraction
    assert(runIncremental(ids, oldE, Seq((1L, 3L), (2L, 3L))) == batchAssign(ids, oldE))
  }

  test("broadcast-size guard: the batch-CC fallback regime equals the broadcast regime") {
    import spark.implicits._
    // round-6 advice: a catch-up/bootstrap-sized batch must degrade to
    // batch CC over the union instead of a corpus-scale broadcast.
    // threshold 0 forces the fallback on the same fixtures the broadcast
    // path is proven on; both regimes must assign identically.
    val rng = new scala.util.Random(6406)
    (0 until 4).foreach { round =>
      val all = (0 until (20 + rng.nextInt(80))).flatMap { _ =>
        val a = rng.nextLong(40L); val b = rng.nextLong(40L)
        if (a != b) Some((a, b)) else None
      }
      val (oldE, newE) = all.partition(_ => rng.nextDouble() < 0.5)
      if (oldE.nonEmpty && newE.nonEmpty) {
        val ids = (oldE.flatMap(e => Seq(e._1, e._2)) ++ Seq(0L)).distinct
        val standing = Clustering.assign(spark, ids.toDF("id"), oldE.toDF("a", "b"))
        val broadcastRegime = Clustering
          .incrementalClustersWithDelta(spark, standing, newE.toDF("a", "b"))
          .assignment
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val fallbackRegime = Clustering
          .incrementalClustersWithDelta(spark, standing, newE.toDF("a", "b"),
            broadcastMaxEndpoints = 0L)
          .assignment
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(fallbackRegime == broadcastRegime, s"round $round")
        assert(fallbackRegime ==
          batchAssign((ids ++ newE.flatMap(e => Seq(e._1, e._2))).distinct, oldE ++ newE))
      }
    }
  }

  test("property: incremental CC equals batch CC on random graphs and random splits (seeded)") {
    val rng = new scala.util.Random(4242)
    (0 until 6).foreach { round =>
      val n = 5 + rng.nextInt(60)
      val m = 1 + rng.nextInt(120)
      val all = (0 until m).flatMap { _ =>
        val a = rng.nextLong(n.toLong + 1)
        val b = rng.nextLong(n.toLong + 1)
        if (a != b) Some((a, b)) else None
      }
      if (all.nonEmpty) {
        val (oldE, newE) = all.partition(_ => rng.nextDouble() < 0.7)
        // the standing universe: ids of the OLD graph only — new-edge
        // endpoints may be brand-new, exactly the crawl-increment shape
        val ids = (oldE.flatMap(e => Seq(e._1, e._2)) ++ Seq(0L)).distinct
        val want = batchAssign((ids ++ newE.flatMap(e => Seq(e._1, e._2))).distinct, oldE ++ newE)
        assert(runIncremental(ids, oldE, newE) == want, s"round $round: old=$oldE new=$newE")
      }
    }
  }
}
