package graft.er

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transitive clustering: connected components over match edges as an
  * iterative DataFrame loop (SURVEY.md §2.8 G6).
  *
  * Implements the alternating large-star / small-star contraction of
  * Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14)
  * — O(log n) rounds, each round two shuffles (a groupBy-min and a join),
  * fully relational (no collect_list, so a giant component never
  * materializes a giant row). Lineage is cut by materializing every round
  * (the loop would otherwise stack exponentially growing plans). A graph
  * that contracts locally to few edges finishes by driver union-find.
  *
  * Deterministic: cluster id = smallest mention_id of the component, so the
  * output is invariant under partitioning — a north_rule requirement.
  */
object Clustering {

  /** edges: DataFrame(a BIGINT, b BIGINT), undirected, a != b assumed.
    * Returns DataFrame(id BIGINT, cluster BIGINT) for every id appearing in
    * an edge. Nodes with no edges are absent (callers union singletons).
    *
    * `checkpointDir`: None (default) cuts per-round lineage with
    * localCheckpoint — fastest, but blocks live on executors, so an
    * executor loss forces full recompute and a driver loss loses the run.
    * Some(dir) switches to RELIABLE per-round Parquet snapshots under
    * `dir` (HDFS/S3/local via the Hadoop FS API) and makes the loop
    * resumable mid-iteration — the cluster-deployment mode the north rule
    * requires ("resumable from checkpoint"). In both modes the graph
    * size, not the mode, picks the finish ([[components]]). */
  def connectedComponents(
      spark: SparkSession,
      edges: DataFrame,
      maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val run = checkpointDir match {
      case Some(dir) => connectedComponentsCheckpointed(spark, edges, dir, maxIter)
      case None => components(spark, normalizeEdges(edges), maxIter, new Rounds)
    }
    // direct CcRun callers read .converged instead
    if (!run.converged) warnNotConverged(maxIter)
    run.clusters
  }

  /** Round-0 edge count at or below which CC, in either mode, finishes on
    * the driver with union-find instead of the iterative star loop. The
    * loop's cost at small scale is its FIXED per-round scheduler latency
    * (each round = several shuffles + a signature job; a converged toy
    * graph still pays 3-5 rounds ≈ seconds), while a bounded collect +
    * union-find is one job and microseconds of CPU.
    *
    * Driver memory paid (64-bit JVM, compressed oops; E contracted edges
    * over N nodes, E < N ≤ 2E): 16 B/edge of packed edges, plus ~32
    * B/edge of transient collect buffers; 40–64 B/node for the
    * union-find map (boxed values at 25–50% load); then, while the
    * result is built, ~32 B/node of (id, cluster) tuples and ~72 B/node
    * of local-relation rows, the rows held for as long as the returned
    * plan lives. At the 2M-edge default that peaks at ~0.4 GB (N ≈ E)
    * to ~0.7 GB (N = 2E), with 0.15–0.3 GB retained.
    *
    * Exact: union-by-min with path compression assigns every node the
    * component minimum, the identical label the star loop converges to.
    * Scale-adaptive, not local-mode-tuned: on a real cluster the
    * threshold bounds driver memory, and corpus-scale edge sets
    * (> threshold after the narrow localContract pass) still take the
    * shuffle loop. Override with spark.graft.cc.driverMaxEdges (0
    * disables the fast path for every non-empty graph). */
  val DefaultDriverCcMaxEdges: Long = 2000000L

  private def driverCcMaxEdges(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cc.driverMaxEdges")
      .map(_.toLong).getOrElse(DefaultDriverCcMaxEdges)

  /** Union-by-min with path compression: the root of every component is
    * its minimum node, so `foreachLabel` reports each node seen with its
    * component minimum. The one union-find behind both the
    * partition-local contraction and the driver-side finish. */
  private final class MinUnionFind {
    private val parent = scala.collection.mutable.LongMap.empty[Long]

    private def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }

    def union(a: Long, b: Long): Unit = {
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }

    def size: Int = parent.size

    def foreachLabel(f: (Long, Long) => Unit): Unit =
      parent.foreachKey(n => f(n, find(n)))
  }

  /** Bounded driver-side union-find over an already-contracted edge set
    * (caller guarantees nEdges <= driverCcMaxEdges — a declared, bounded
    * collect, the dimension-map discipline). Each partition ships its
    * edges as ONE packed Array[Long] (a0, b0, a1, b1, …), so the driver
    * holds 16 bytes per edge and no per-edge object. Emits (id, cluster)
    * for every node appearing in an edge, cluster = component minimum —
    * bit-identical to starsToClusters after a converged star loop. */
  private def driverUnionFind(spark: SparkSession, e: DataFrame): DataFrame = {
    import spark.implicits._
    val packed = e.select(col("a"), col("b")).as[(Long, Long)].mapPartitions { it =>
      val buf = Array.newBuilder[Long]
      it.foreach { case (a, b) => buf += a; buf += b }
      Iterator.single(buf.result())
    }.collect()
    val uf = new MinUnionFind
    packed.foreach { p =>
      var i = 0
      while (i < p.length) { uf.union(p(i), p(i + 1)); i += 2 }
    }
    val out = new Array[(Long, Long)](uf.size)
    var k = 0
    uf.foreachLabel { (n, r) => out(k) = (n, r); k += 1 }
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("id", "cluster")
  }

  /** Loud non-convergence warning (round-4 advice): a loop that exhausts
    * maxIter — or a resumed checkpoint whose on-disk round already exceeds
    * a smaller caller budget — returns UNDER-MERGED clusters; silence here
    * was the same failure class TypesMappings.typeClosure already warns
    * about. Callers that need hard failure read CcRun.converged. */
  private def warnNotConverged(maxIter: Int): Unit =
    System.err.println(
      s"[graft.er.Clustering] WARNING: connected-components loop exited " +
        s"WITHOUT converging (maxIter=$maxIter) — the returned clusters may be " +
        "under-merged; raise maxIter (star-contraction rounds are " +
        "log-diameter, so 50 covers any realistic graph)")

  /** Cast + drop self-loops. Deliberately NO distinct: the input-scale
    * dedup shuffle (one full pass over the edge volume) is redundant once
    * localContract runs — union-find absorbs duplicate and bidirectional
    * edges for free, and every loop round distincts its own (much
    * smaller) output. */
  private def normalizeEdges(edges: DataFrame): DataFrame =
    edges
      .select(col("a").cast("long"), col("b").cast("long"))
      .where(col("a") =!= col("b"))

  /** Partition-local union-find contraction: each partition replaces its
    * edges by the star (node → local-component minimum). Connectivity-
    * preserving (every original edge lies inside one local star) and
    * node-preserving (a local component has >= 2 nodes, so its minimum
    * survives as a target), so the global components — and the min-id
    * cluster labels — are unchanged. One NARROW pass, no shuffle; it cuts
    * the edge volume the O(log n) global loop must shuffle per round.
    * Blocking-derived match graphs are near-cliques, so even the random
    * slice of a clique landing in one partition connects most of its
    * nodes (k²/P edges over k nodes) and most edges collapse here. The
    * contracted edge SET depends on the incoming partitioning; the final
    * clusters are invariant (ClusteringSpec property tests). */
  private def localContract(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select(col("a"), col("b")).as[(Long, Long)].mapPartitions { it =>
      val uf = new MinUnionFind
      it.foreach { case (a, b) => uf.union(a, b) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      uf.foreachLabel((n, r) => if (n != r) out += ((n, r)))
      out.iterator
    }.toDF("a", "b")
  }

  /** Right-size the loop's shuffle width to the graph: the star-contraction
    * rounds run O(log n) small jobs, and a width tuned for the scoring
    * stage (thousands of partitions) would turn each round into a storm of
    * empty micro-tasks. ~100k edges per partition, capped at the session
    * parallelism. Applied as EXPLICIT per-key repartition() calls inside
    * the round plans, NOT by mutating spark.sql.shuffle.partitions around
    * the loop — the session conf is shared across threads, and a
    * set/restore raced with plans being BUILT concurrently (they bake
    * numShufflePartitions in at construction; an interleaved restore could
    * even pin the session at the temporary width — round-5 review). A
    * user-specified repartition is exempt from AQE coalescing and
    * satisfies the downstream aggregation/join distributions, so every
    * round runs at the graph's width regardless of session tuning, and
    * the returned (lazy) cluster plan keeps its width wherever it
    * executes. */
  private def rightSizedParts(spark: SparkSession, nEdges: Long): Int =
    math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nEdges / 100000L + 1)).toInt

  /** One large-star + small-star contraction round (pure plan — callers
    * choose the materialization: localCheckpoint or a Parquet snapshot). */
  private def ccRound(e: DataFrame, parts: Int): DataFrame = {
    // ---- large-star: for each node u, hang strictly-larger neighbors on
    //      m = min(N(u) ∪ {u}). The one repartition node is referenced by
    //      both the aggregation and the join side, so the exchange is
    //      reusable; each shuffle keys on its own distribution at the
    //      fixed right-sized width (rightSizedParts doc).
    val both = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      .repartition(parts, col("u"))
    val mins = both.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    val ls = both
      .join(mins, Seq("u"))
      .where(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .repartition(parts, col("a"), col("b"))
      .distinct()

    // ---- small-star: orient edges high→low, hang all small neighbors
    //      (and the node itself) on the minimum
    val dir = ls.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .repartition(parts, col("u"))
    val mins2 = dir.groupBy("u").agg(min(col("v")).as("m"))
    dir
      .join(mins2, Seq("u"))
      .where(col("v") =!= col("m"))
      .select(col("v").as("a"), col("m").as("b"))
      .unionAll(mins2.select(col("u").as("a"), col("m").as("b")))
      .repartition(parts, col("a"), col("b"))
      .distinct()
  }

  /** Edge-set signature: order-independent (count, xor-hash, wrapping
    * sum-hash). The xor alone cancels any edge with even multiplicity, so
    * two duplicate-heavy MULTISETS with equal counts could collide (the
    * resume-namespace key is computed over the non-deduplicated input —
    * round-4 advice); the third component is the low 64 bits of the exact
    * sum of hashes, which is multiplicity-sensitive at every parity. A
    * bare bigint sum would overflow under ANSI, so it is summed as two
    * 32-bit halves (each sum fits a long below 2^31 edges) and recombined
    * with the intended 64-bit wrap: lo + (hi << 32). */
  private def edgeSig(e: DataFrame): Sig = {
    val sigRow = e.select(xxhash64(col("a"), col("b")).as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(col("h")), lit(0L)).as("x"),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi")).head()
    (sigRow.getLong(0), sigRow.getLong(1), sigRow.getLong(2) + (sigRow.getLong(3) << 32))
  }

  /** In the converged star forest every edge is (member, center) with
    * center = component minimum; each node's cluster = min over its edges,
    * centers map to themselves. */
  private def starsToClusters(e: DataFrame, parts: Int): DataFrame = {
    val members = e.select(col("a").as("id"), col("b").as("cluster"))
    val centers = e.select(col("b").as("id"), col("b").as("cluster"))
    members.unionAll(centers)
      .repartition(parts, col("id"))
      .groupBy("id")
      .agg(min("cluster").as("cluster"))
  }

  /** Result of a CC run: the cluster table plus the round bookkeeping a
    * caller (or a lineage manifest) records. `resumedFromRound` is the
    * committed round the run started from (0 when fresh or in memory);
    * `roundsComputed` counts star rounds, so it is 0 when the driver
    * union-find finished or the resumed round had converged; `converged`
    * is false only when the star loop stopped at `maxIter`. */
  final case class CcRun(clusters: DataFrame, resumedFromRound: Int, roundsComputed: Int, converged: Boolean)

  private type Sig = (Long, Long, Long)

  /** Where the rounds of one CC run live — all that differs between the
    * two modes. As defined here, the in-memory mode: `resume` gives the
    * last complete round of an earlier run (round, edges, signature,
    * converged); `save` materializes a round's plan and signs it; `seal`
    * marks a saved round complete; `prune` drops the rounds below the one
    * a run converged on; `release` readies the star clusters for return. */
  private class Rounds(val resume: Option[(Int, DataFrame, Sig, Boolean)] = None) {
    // LAZY checkpoint: the signature aggregation is the action that
    // materializes it — one job per round instead of two (the round count
    // is diameter-bound, so per-round scheduler latency is the dominant
    // cost on small graphs)
    def save(i: Int, plan: DataFrame): (DataFrame, Sig) = {
      val e = plan.localCheckpoint(false)
      (e, edgeSig(e))
    }
    def seal(i: Int, sig: Sig, converged: Boolean): Unit = ()
    def prune(last: Int): Unit = ()
    def release(clusters: DataFrame): DataFrame = clusters
  }

  /** The one CC rule of both modes, over normalized edges. Round 0 is
    * materialized first (or resumed), and its edge count picks the finish:
    *   1. a resumed round that is already converged is read as stars;
    *   2. otherwise a round of at most `spark.graft.cc.driverMaxEdges`
    *      edges finishes with [[driverUnionFind]] — exact on any round,
    *      because every round preserves connectivity and keeps the
    *      component minimum as the label;
    *   3. otherwise the star loop runs until two consecutive rounds have
    *      equal signatures, or until round `maxIter`. */
  private def components(spark: SparkSession, norm: DataFrame, maxIter: Int,
      store: Rounds): CcRun = {
    var (iter, e, sig, converged) = store.resume.getOrElse {
      val (e0, sig0) = store.save(0, localContract(norm))
      store.seal(0, sig0, converged = false)
      (0, e0, sig0, false)
    }
    val resumedFrom = iter
    val clusters =
      if (!converged && sig._1 <= driverCcMaxEdges(spark)) {
        converged = true
        driverUnionFind(spark, e)
      } else {
        // the final node-scale aggregation carries the loop's fixed width
        // too — at a session width tuned for the scoring stage it would
        // otherwise run as near-empty micro-tasks
        val parts = rightSizedParts(spark, sig._1)
        while (!converged && iter < maxIter) {
          val (next, nextSig) = store.save(iter + 1, ccRound(e, parts))
          converged = nextSig == sig
          iter += 1
          store.seal(iter, nextSig, converged)
          e = next; sig = nextSig
        }
        store.release(starsToClusters(e, parts))
      }
    if (converged) store.prune(iter)
    CcRun(clusters, resumedFrom, iter - resumedFrom, converged)
  }

  /** Connected components with RELIABLE per-round snapshots: every round
    * commits its edge set as Parquet under `dir/round_NNNNN` plus a
    * `_MANIFEST` (row count + edge-set signature + converged flag),
    * published through [[graft.state.Commit]] only after the Parquet
    * commit succeeds. A restarted run resumes at the last complete round
    * instead of re-deriving it — each round is a pure function of the
    * previous edge set, so resume is exact. Round 0 is the locally
    * contracted input edge set, so resume never re-reads the upstream
    * either. The finish follows [[components]]: a graph within the
    * driver threshold commits round 0 alone and finishes by union-find.
    *
    * Trade-off vs localCheckpoint: one Parquet write + read per round
    * (the write doubles as the materialization action), in exchange for
    * surviving executor AND driver loss — the mode to use on a real
    * cluster; the in-memory path remains the default for interactive
    * sessions.
    *
    * Storage discipline: `dir` is SINGLE-WRITER (one CC job at a time —
    * the pipeline runner gives each stage its own dir). On entry, sibling
    * `cc_*` namespaces (superseded upstream graphs) are deleted; after
    * convergence, all rounds but the final one are deleted, so the dir
    * holds at most one edge-set copy at rest and O(log n) only while a
    * run is in flight. */
  def connectedComponentsCheckpointed(
      spark: SparkSession,
      edges: DataFrame,
      dir: String,
      maxIter: Int = 50): CcRun = {
    import org.apache.hadoop.fs.{ChecksumException, Path}
    import graft.state.Commit
    // Namespace the rounds by the INPUT edge-set signature: a caller that
    // reuses one dir across runs (the pipeline runner does) must not
    // resume contraction rounds of a different upstream graph. Computing
    // the signature costs one aggregation over the input — on a resumed
    // pipeline the input is the match_edges snapshot, a cheap scan.
    val norm = normalizeEdges(edges)
    val inputSig = edgeSig(norm)
    val rawRoot = new Path(new Path(dir),
      s"cc_${inputSig._1}_${java.lang.Long.toUnsignedString(inputSig._2)}" +
        s"_${java.lang.Long.toUnsignedString(inputSig._3)}")
    val fs = rawRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified form: listStatus returns scheme-qualified paths, and the
    // sibling prune below compares against this — an unqualified root
    // would compare unequal to ITSELF and be deleted
    val root = fs.makeQualified(rawRoot)

    def roundPath(i: Int) = new Path(root, f"round_$i%05d")
    // underscore prefix: Spark's file index skips _-prefixed files, so the
    // manifest never gets picked up as a parquet footer
    def manifestPath(i: Int) = new Path(roundPath(i), "_MANIFEST")
    def rounds(): Seq[(Int, Path)] = Commit.dirs(fs, root, "round_")
      .flatMap { case (n, p) => n.toIntOption.map(_ -> p) }.sortBy(_._1)

    // A CORRUPT manifest (unparsable text, or one failing its checksum)
    // counts as an INCOMPLETE round: the scan passes over it and the round
    // is recomputed, which is exact because rounds are deterministic. Any
    // other read error propagates — mistaking a transient error for an
    // incomplete round would delete the converged snapshot as debris.
    def readManifest(i: Int): Option[(Sig, Boolean)] =
      try Commit.read(fs, manifestPath(i)).flatMap(_.trim.split(' ') match {
        case Array(_, n, h, s, c) =>
          for (n <- n.toLongOption; h <- h.toLongOption; s <- s.toLongOption;
               c <- c.toBooleanOption) yield ((n, h, s), c)
        case _ => None
      })
      catch { case _: ChecksumException => None }

    // Prune SIBLING namespaces: under one caller-owned dir, a different
    // input signature means a superseded upstream graph — its rounds can
    // never be resumed again and would otherwise accumulate one edge-set
    // Parquet copy per round per historical run.
    Commit.dirs(fs, root.getParent, "cc_").foreach { case (_, p) =>
      if (p != root) fs.delete(p, true)
    }

    // resume point: the HIGHEST round with a COMPLETE (present + parsable)
    // manifest — found by listing, not by contiguous probing, because
    // post-convergence pruning deletes the superseded earlier rounds.
    // No maxIter filter: a converged snapshot from a HIGHER-budget earlier
    // run is still the exact answer — skipping it (post-pruning, with the
    // lower rounds gone) would force a from-scratch recompute that may not
    // even converge within the smaller budget.
    val resumed = rounds().reverseIterator.flatMap { case (r, p) =>
      readManifest(r).map { case (sig, c) => (r, spark.read.parquet(p.toString), sig, c) }
    }.nextOption()
    val last = resumed.fold(-1)(_._1)

    // Crash/corruption debris ABOVE the resume point (rounds with missing
    // or corrupt manifests) is deleted now — BEFORE any new round is
    // written: the scan will never use it, and a stale full edge-set copy
    // must not survive every prune.
    rounds().foreach { case (r, p) => if (r > last) fs.delete(p, true) }

    components(spark, norm, maxIter, new Rounds(resumed) {
      override def save(i: Int, plan: DataFrame): (DataFrame, Sig) = {
        plan.write.mode("overwrite").parquet(roundPath(i).toString)
        val reread = spark.read.parquet(roundPath(i).toString)
        (reread, edgeSig(reread))
      }
      // _MANIFEST: "round n h sum converged" — plain text, published AFTER
      // the Parquet commit, so its presence marks the round complete. The
      // overwrite-mode Parquet write has just replaced the round dir, so
      // the manifest name is always fresh.
      override def seal(i: Int, sig: Sig, converged: Boolean): Unit =
        Commit.publish(fs, manifestPath(i), s"$i ${sig._1} ${sig._2} ${sig._3} $converged")
      // After convergence only the FINAL round is ever read again (a
      // re-invocation resumes it with zero rounds computed) — delete the
      // superseded earlier rounds so the namespace holds one edge-set
      // copy, not O(log n) of them.
      override def prune(last: Int): Unit =
        rounds().foreach { case (r, p) => if (r < last) fs.delete(p, true) }
      // EAGER localCheckpoint: the returned cluster table must be
      // self-contained — a later call on this dir prunes snapshot files
      // (sibling namespaces, superseded rounds) that a lazy plan would
      // still reference, turning an old handle into FileNotFoundException.
      // The table is node-scale (one row per id), so materializing it at
      // return is cheap at any corpus size.
      override def release(clusters: DataFrame): DataFrame = clusters.localCheckpoint(true)
    })
  }

  /** An incremental CC fold's result: the assignment together with its
    * CHANGED-ROW set — what a touched-range state writer persists per
    * fold (round-7: the streaming sink's per-fold write volume must track
    * the batch, not the corpus-scale assignment):
    *   - `assignment`: the full refreshed (id, cluster) table (lazy —
    *     only pay for it if you materialize it);
    *   - `changed`: exactly the rows whose (id, cluster) differs from
    *     `oldClusters` plus the brand-new ids — in the broadcast regime
    *     an old row changes iff its cluster label is relabeled by the
    *     contracted CC (merged != label), so `changed` is one narrow
    *     assignment probe of a broadcast relabel map plus the batch-new
    *     ids (batch-scale by the incremental premise);
    *   - `changedIsFull`: true in the batch-CC fallback regime (a
    *     corpus-sized batch), where deriving a delta would cost a full
    *     compare — the caller should rewrite fully there anyway. */
  final case class IncrementalCc(
      assignment: DataFrame, changed: DataFrame, changedIsFull: Boolean)

  /** G7 (incremental maintenance): fold a NEW batch of match edges into a
    * CONVERGED cluster assignment without re-clustering the old graph —
    * the daily-crawl shape at corpus scale, where the standing assignment
    * is node-scale (10^12 rows) and a batch is orders of magnitude
    * smaller.
    *
    * `oldClusters`: DataFrame(id, cluster) whose labels are component
    * MINIMA — the invariant every CC entry point here guarantees.
    * `newEdges`: DataFrame(a, b). The result's `assignment` is
    * (id, cluster) for the union graph (old ids plus new-edge endpoints),
    * identical to running batch CC over (old edges ∪ new edges) — see
    * ClusteringSpec's incremental property tests and PlanAuditSpec's
    * broadcast-only plan pin.
    *
    * Why it is exact: contracting every old component to its label
    * preserves connectivity between representatives (each old component
    * is connected, and every new edge lies between representatives after
    * the endpoint mapping), so CC over the contracted graph merges
    * exactly the components the union graph merges; and because old
    * labels are component minima, the min-label CC over {old labels ∪
    * brand-new ids} yields the min member id of each merged component —
    * the same label batch CC assigns.
    *
    * The plan never shuffles the node-scale assignment: batch endpoints
    * are broadcast INTO a narrow scan of `oldClusters` (inner join,
    * batch-side build) to pull the touched rows; contraction and
    * relabeling then join the (small) touched/relabel tables back as
    * broadcasts, so the only node-scale work is two narrow passes over
    * the assignment table (probe + relabel) — no wide exchange at any
    * width. Everything else is batch-scale. The broadcasts assume the
    * batch ≪ corpus (the incremental premise); `broadcastMaxEndpoints`
    * GUARDS that premise: when the batch's distinct endpoints exceed it
    * (a catch-up or bootstrap-sized batch), the broadcast-probe plan
    * would silently become a multi-GB broadcast (executor OOM), so the
    * fold degrades to batch CC over the union graph instead —
    * result-identical, because the standing assignment's (id, cluster)
    * rows ARE a star edge set with the same connectivity (labels are
    * component minima, so min-label CC over {assignment stars ∪ new
    * edges} assigns exactly the min member id of every union component;
    * ClusteringSpec drives both regimes to equal assignments). The
    * default (5M endpoints ≈ 40 MB of packed longs) marks the crossover
    * where two corpus-scale wide passes beat a giant broadcast. */
  def incrementalClustersWithDelta(
      spark: SparkSession,
      oldClusters: DataFrame,
      newEdges: DataFrame,
      broadcastMaxEndpoints: Long = 5000000L): IncrementalCc = {
    val oc = oldClusters.select(col("id").cast("long"), col("cluster").cast("long"))
    val e = normalizeEdges(newEdges)
    // eagerly truncated (batch-scale by premise): the guard's count,
    // the broadcast probe, and incrementalViaBatchCc's universe all
    // consume this frame — without the checkpoint the explode+distinct
    // aggregation re-runs per consumer
    val endpoints = e
      .select(explode(array(col("a"), col("b"))).as("id"))
      .distinct()
      .localCheckpoint(true)
    // the guard's count is one batch-scale aggregation — cheap next to
    // the fold itself, and the price of never OOMing an executor on a
    // mis-sized batch
    if (endpoints.count() > broadcastMaxEndpoints) {
      val full = incrementalViaBatchCc(spark, oc, e, endpoints)
      return IncrementalCc(full, full, changedIsFull = true)
    }
    // touched old rows: ONE narrow scan of the node-scale table probing
    // the broadcast batch ids; eagerly truncated (it is batch-scale) so
    // the three consumers below don't re-scan the assignment table
    val touched = oc.join(broadcast(endpoints), Seq("id"))
      .localCheckpoint(true)
    val contracted = e
      .join(broadcast(touched.select(col("id").as("a"), col("cluster").as("ca"))), Seq("a"), "left")
      .join(broadcast(touched.select(col("id").as("b"), col("cluster").as("cb"))), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"), coalesce(col("cb"), col("b")).as("b"))
    // CC over representatives only: edge volume = batch, node volume =
    // touched clusters + brand-new ids (self-loops from within-cluster
    // batch edges drop in normalizeEdges)
    val cc = connectedComponents(spark, contracted)
    // old ids relabel through their representative (touched-scale
    // broadcast against the second narrow assignment pass); untouched
    // components keep their label
    val oldPart = oc
      .join(broadcast(cc.select(col("id").as("cluster"), col("cluster").as("merged"))),
        Seq("cluster"), "left")
      .select(col("id"), coalesce(col("merged"), col("cluster")).as("cluster"))
    // ids first seen in this batch: label from the contracted CC (their
    // contracted node IS the id); a batch id whose edges all collapsed
    // to self-loops cannot exist (it would need an old assignment row),
    // but coalesce keeps the plan total anyway
    // every side here is batch-scale, but hint anyway: without stats the
    // planner falls back to sort-merge, and these two joins sit in the
    // same stage as the assignment union — keep the whole relabel plan
    // exchange-free (PlanAuditSpec pins broadcast-only)
    val newPart = endpoints
      .join(broadcast(touched.select("id")), Seq("id"), "left_anti")
      .join(broadcast(cc), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    // rows that differ from oldClusters: old ids whose LABEL the
    // contracted CC relabeled (merged != label — a second narrow probe
    // of the assignment against the same broadcast map), plus every
    // brand-new id
    val relabeled = oc
      .join(broadcast(cc.where(col("id") =!= col("cluster"))
        .select(col("id").as("cluster"), col("cluster").as("merged"))),
        Seq("cluster"))
      .select(col("id"), col("merged").as("cluster"))
    IncrementalCc(oldPart.unionAll(newPart), relabeled.unionAll(newPart),
      changedIsFull = false)
  }

  /** The guarded fallback of [[incrementalClustersWithDelta]] for batches
    * too big to broadcast: batch CC over {standing-assignment star edges ∪
    * new edges}. Exact by the same min-label argument — each (id, cluster)
    * assignment row with id ≠ cluster is an edge of a star whose center
    * is the component minimum, so the union graph has the same connected
    * components (and hence the same min labels) as {old edges ∪ new
    * edges}. Every stage here is corpus-scale but narrow/shuffle-bounded
    * (the regime where that is unavoidable): one CC over the union and
    * one distinct over the id universe. */
  private def incrementalViaBatchCc(
      spark: SparkSession,
      oc: DataFrame,
      e: DataFrame,
      endpoints: DataFrame): DataFrame = {
    val starEdges = oc.where(col("id") =!= col("cluster"))
      .select(col("id").as("a"), col("cluster").as("b"))
    // universe = old ids ∪ batch endpoints (singleton old ids must keep
    // their row; unionAll + distinct — both inputs are already distinct,
    // so this is one dedup shuffle over the id universe)
    assign(spark, oc.select(col("id")).unionAll(endpoints.select(col("id"))).distinct(),
      starEdges.unionAll(e))
  }

  /** Cluster assignment for every mention id in `ids` (singletons become
    * their own cluster). ids: DataFrame(id BIGINT). `checkpointDir` as in
    * [[connectedComponents]]: Some(dir) = reliable, resumable rounds. */
  def assign(
      spark: SparkSession,
      ids: DataFrame,
      matchEdges: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val cc = connectedComponents(spark, matchEdges, checkpointDir = checkpointDir)
    ids.select(col("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }
}
