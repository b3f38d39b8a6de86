package graft.dedup

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.synth.Synth.splitmix64

/** Large-scale deduplication operators for training-data pipelines.
  *
  * All tiers follow the same scale discipline as the ER pipeline: a cheap
  * per-row signature (map-side, no shuffle), one co-partitioning shuffle on
  * the signature bucket, then verification inside the bucket. No stage ever
  * shuffles the full pair space.
  *
  *   - exact:    content-hash groupBy (keep-min survivor)
  *   - MinHash:  char-shingle minhash signatures, banded LSH buckets,
  *               verified token-Jaccard inside the bucket
  *   - SimHash:  64-bit simhash, Hamming<=k via band-exact-match buckets
  *   - embedding: random-hyperplane LSH buckets, verified cosine
  */
object Dedup {

  /** Default skew cap for every banded self-join in this module (and the
    * value the bench/driver surface passes explicitly): bounds any bucket
    * task at ~maxBucket²/2 candidate pairs. The web-scale-safe default for
    * ALL pair tiers, including simhashPairs — exhaustive bucket scans are
    * opt-in (`maxBucket = Int.MaxValue`), never the default. */
  val DefaultMaxBucket: Int = 4096

  /** Registry of the internal persisted signature tables (one per *Pairs
    * call). The signature persist is an implementation detail of a single
    * pipeline execution — without release, a long session running many
    * dedup queries (the 53-query bench catalog) accumulates
    * session-lifetime cache blocks. Surfaces call releaseSignatures() when
    * a dedup result is no longer needed; unpersisting early is safe (the
    * pairs plan just recomputes the signatures).
    *
    * THREAD-scoped, not process-global (round-3 advice): plan construction
    * runs on the caller's thread, so a Bench/Verify loop releasing its own
    * signatures can never unpersist tables belonging to a dedup query
    * being built concurrently on another thread of the same JVM. Build and
    * release on the same thread (all engine surfaces do). */
  private val activeSigs =
    ThreadLocal.withInitial[java.util.ArrayDeque[DataFrame]](
      () => new java.util.ArrayDeque[DataFrame]())

  private[graft] def persistSig(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    activeSigs.get().add(p)
    p
  }

  /** Unpersist every signature table registered on THIS thread since the
    * last release. */
  def releaseSignatures(): Unit = releaseSignaturesSince(0)

  /** Current registration mark of THIS thread's signature queue — pair
    * with [[releaseSignaturesSince]] to release exactly the frames a
    * nested library call (e.g. a streaming fold's bootstrap) registered,
    * leaving any frames the CALLER had pending untouched (round-6
    * advice: a batch-backfill caller may invoke a fold mid-build of its
    * own dedup plan on the same thread). */
  def sigMark(): Int = activeSigs.get().size()

  /** Unpersist the frames registered on THIS thread AFTER `mark` (LIFO
    * from the tail), keeping the first `mark` registrations pending. */
  def releaseSignaturesSince(mark: Int): Unit = {
    val q = activeSigs.get()
    while (q.size() > mark) {
      val d = q.pollLast()
      try d.unpersist(false) catch { case NonFatal(_) => () }
    }
  }

  /** Skew cap for the banded self-joins (same discipline as
    * er.Blocking): buckets larger than `maxBucket` are deterministically
    * sub-bucketed by hash(id, bucket), bounding every task at
    * ~maxBucket²/2 pairs even when boilerplate text creates a mega-bucket.
    * Only the OVERSIZED buckets' sizes are broadcast (the skew tail —
    * bounded regardless of corpus size). The sub-bucket hash is salted
    * with the bucket key so each BAND splits independently: a true
    * duplicate pair separated in one band's sub-buckets still collides in
    * another band with probability 1-(1-1/nb)^(bands-1) — recall loss is
    * negligible for banded schemes (and exactly zero when no bucket
    * exceeds the cap). */
  private[graft] def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    capBucketsWith(banded,
      banded.groupBy("bucket").agg(count(lit(1)).as("bsz")), maxBucket)

  /** [[capBuckets]] against a CALLER-SUPPLIED census (bucket, bsz) — the
    * index-at-rest shape: [[survivorsIncrementalDelta]] maintains the
    * standing bucket sizes incrementally and derives the union census
    * from the batch's band deltas alone, so the cap never re-counts the
    * corpus.
    * Rows whose bucket is absent from `sizes` pass through uncapped
    * (left join → nb = 1), so a census restricted to the buckets a probe
    * can reach is sufficient. */
  private[graft] def capBucketsWith(
      banded: DataFrame, sizes: DataFrame, maxBucket: Int): DataFrame = {
    val hot = sizes.where(col("bsz") > maxBucket).select("bucket", "bsz")
    banded.join(broadcast(hot), Seq("bucket"), "left")
      .withColumn("nb", coalesce(ceil(col("bsz") / lit(maxBucket)).cast("int"), lit(1)))
      .withColumn("bucket",
        when(col("nb") <= 1, col("bucket"))
          .otherwise(concat(col("bucket"), lit("#"),
            pmod(xxhash64(col("id"), col("bucket")), col("nb")))))
      .drop("bsz", "nb")
  }

  /** A caller-materialized MinHash pair table TOGETHER WITH the exact
    * parameters it was built from. [[survivors]] accepts only this shape
    * for its pair-table bypass and refuses a table whose parameters differ
    * from its own — a bare DataFrame bypass trusted the caller to keep the
    * two call sites in sync, and a silent mismatch changes survivor
    * clusters with no detection (round-4 advice). */
  final case class NearPairTable(
      pairs: DataFrame,
      shingleK: Int,
      nHashes: Int,
      rowsPerBand: Int,
      minJaccard: Double,
      maxBucket: Int) {
    require(Seq("id_a", "id_b").forall(pairs.columns.contains),
      s"near-pair table needs id_a/id_b columns, got: ${pairs.columns.mkString(", ")}")
  }

  /** Deterministic pseudo-gaussian hyperplanes (sum of 4 uniforms - 2),
    * shared by [[embeddingDupPairs]] and Ann.lshTopK. The plane cell index
    * ((b*dim + d)*4 + x) is injective for EVERY dim before the splitmix64
    * mix — the previous b*1009 + d*31 + x schedule collided for dim >= 66,
    * correlating supposedly independent plane components (round-5
    * review). */
  private[graft] def hyperplanes(seed: Long, nBits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (b, d) =>
      (0 until 4).map(x =>
        (splitmix64(seed ^ ((b.toLong * dim + d) * 4 + x)) >>> 11).toDouble / (1L << 53)).sum - 2.0
    }

  /** Sign signature of v against the planes (bit b set iff dot > 0). */
  private[graft] def signSignature(planes: Array[Array[Double]], v: Seq[Double]): Long = {
    var sig = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      var dot = 0.0
      var d = 0
      while (d < v.length && d < p.length) { dot += v(d) * p(d); d += 1 }
      if (dot > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  // ---------- exact ----------------------------------------------------------

  /** Exact dedup decision table: one row per distinct content hash with the
    * canonical survivor (minimum id) and the duplicate count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("keep_id"))

  // ---------- minhash --------------------------------------------------------

  def charShingles(text: String, k: Int): Set[Long] = {
    if (text.length < k) return Set(hashString(text))
    val out = scala.collection.mutable.HashSet[Long]()
    var i = 0
    while (i + k <= text.length) {
      var h = 0x6C62272E07BB0142L
      var j = i
      while (j < i + k) { h = splitmix64(h ^ text.charAt(j).toLong); j += 1 }
      out += h
      i += 1
    }
    out.toSet
  }

  def hashString(s: String): Long = {
    var h = 0x6C62272E07BB0142L
    var i = 0
    while (i < s.length) { h = splitmix64(h ^ s.charAt(i).toLong); i += 1 }
    h
  }

  /** nHashes minhash values of a shingle set (deterministic hash family). */
  def minhash(shingles: Iterable[Long], nHashes: Int): Array[Long] = {
    val sig = Array.fill(nHashes)(Long.MaxValue)
    shingles.foreach { sh =>
      var k = 0
      while (k < nHashes) {
        val h = splitmix64(sh ^ (0x9E3779B97F4A7C15L * (k + 3)))
        if (h < sig(k)) sig(k) = h
        k += 1
      }
    }
    sig
  }

  /** MinHash LSH near-duplicate candidate pairs with verified estimated
    * Jaccard: bands of `rowsPerBand` signature values bucket the corpus;
    * within-bucket pairs are verified by full-signature agreement ratio
    * (an unbiased Jaccard estimate). Output: (id_a, id_b, est_jaccard). */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      nHashes: Int = 64,
      rowsPerBand: Int = 8,
      minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // persisted: the plan references the signature map 4 times (hot-bucket
    // agg + both self-join sides + verification) and Spark does NOT reuse
    // the exchange across them — without persist every reference
    // re-shingles and re-hashes the whole corpus (measured: 4x
    // SerializeFromObject scans). Signature rows are compact (id + 64
    // longs), MEMORY_AND_DISK spills if not.
    val sigs = persistSig(minhashSigs(df, idCol, textCol, shingleK, nHashes))
    minhashPairsFromSigs(sigs, nHashes, rowsPerBand, minJaccard, maxBucket)
  }

  /** The banded self-join half of [[minhashPairs]], over a caller-persisted
    * signature table (the index-at-rest shape
    * [[survivorsIncrementalDelta]]'s standing state uses). */
  private[graft] def minhashPairsFromSigs(
      sigs: DataFrame,
      nHashes: Int,
      rowsPerBand: Int,
      minJaccard: Double,
      maxBucket: Int): DataFrame = {
    val nBands = nHashes / rowsPerBand
    minhashPairsFromBanded(
      capBuckets(bandedSigs(sigs, nBands, rowsPerBand), maxBucket),
      nHashes, minJaccard)
  }

  /** The within-bucket verify half over an ALREADY-CAPPED banded table —
    * shared by the sig-table path above and the index-at-rest bootstrap
    * ([[buildSurvivorIndex]] reuses its persisted banded frame here
    * instead of re-exploding the signatures). */
  private[graft] def minhashPairsFromBanded(
      banded: DataFrame, nHashes: Int, minJaccard: Double): DataFrame = {
    val l = banded.select(col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("bucket"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("est_jaccard", sigAgreement(nHashes))
      .where(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** (id, sig) MinHash signature table — the LSH index relation a
    * deployment persists (and [[survivorsIncrementalDelta]] treats as
    * standing state). */
  private[graft] def minhashSigs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, nHashes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, t) => (id, minhash(charShingles(t, shingleK), nHashes)) }
      .toDF("id", "sig")
  }

  /** Explode a signature table into per-band bucket keys (pre-cap). */
  private[graft] def bandedSigs(
      sigs: DataFrame, nBands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(
      col("id"), col("sig"),
      explode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> " +
          s"concat(cast(b as string), ':', cast(xxhash64(slice(sig, b * $rowsPerBand + 1, $rowsPerBand)) as string)))"))
        .as("bucket"))

  /** The exact verification expression shared by the batch pair join and
    * the incremental fold: fraction of agreeing minhash components over
    * sig_a/sig_b (identical double arithmetic on both paths). */
  private def sigAgreement(nHashes: Int) =
    expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast($nHashes as double)")

  // ---------- simhash --------------------------------------------------------

  /** 64-bit SimHash over a token multiset. */
  def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = hashString(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Near-duplicate pairs with Hamming distance <= maxHamming, found by the
    * pigeonhole band trick: split 64 bits into (maxHamming + 1) bands — any
    * pair within the radius agrees exactly on at least one band.
    *
    * CONTRACT CAVEAT: the pigeonhole guarantee is exact only while no band
    * bucket exceeds `maxBucket`. Oversized buckets (identical-band floods,
    * overwhelmingly boilerplate/near-identical cliques) are sub-bucketed
    * for bounded task sizes, which can split a pair whose ONLY agreeing
    * band is the flooded one. The DEFAULT is the capped, web-scale-safe
    * behavior ([[DefaultMaxBucket]], the same value the driver surface
    * uses) — a new caller gets bounded task sizes out of the box;
    * exhaustive recall on flooded buckets is OPT-IN via
    * `maxBucket = Int.MaxValue`. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nBands = maxHamming + 1
    val width = 64 / nBands
    // persisted: referenced 4x in the plan with no exchange reuse (see
    // minhashPairs)
    val sigs = persistSig(df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, t) => (id, simhash64(t.split(' ').toSeq)) }
      .toDF("id", "sim"))
    // NOTE: sub-bucketing a simhash band can split a true <=maxHamming pair
    // in that band; unlike minhash's independent bands, the pigeonhole
    // guarantee is per-band, so the cap trades the exact-recall guarantee
    // for bounded tasks ONLY on oversized buckets (identical-band floods,
    // which are overwhelmingly true near-dup cliques anyway).
    val banded = capBuckets(sigs.select(
      col("id"), col("sim"),
      explode(expr(
        // UNSIGNED band extraction: simhash64 uses all 64 bits, so ~half
        // the signatures are negative and signed div/% would make every
        // band's bucket depend on the SIGN and low-bit borrows — two
        // signatures agreeing bitwise on a band could land in different
        // buckets, silently dropping within-radius pairs (round-5 review).
        s"transform(sequence(0, ${nBands - 1}), b -> " +
          s"concat(cast(b as string), ':', cast((shiftrightunsigned(sim, b * $width) & ${(1L << width) - 1}L) as string)))"))
        .as("bucket")), maxBucket)
    val l = banded.select(col("bucket"), col("id").as("id_a"), col("sim").as("sim_a"))
    val r = banded.select(col("bucket"), col("id").as("id_b"), col("sim").as("sim_b"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(expr("sim_a ^ sim_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  // ---------- survivor decision table ----------------------------------------

  /** The deliverable a training-data pipeline actually consumes: a
    * keep/drop DECISION per document, not candidate pairs. Exact and
    * MinHash duplicate edges — plus, optionally, asymmetric CONTAINMENT
    * edges (a short doc quoted inside a longer one: high containment,
    * low Jaccard — the boilerplate-expansion case the symmetric tiers
    * miss) — are unioned, closed transitively (connected components — a
    * near-dup of a near-dup is the same document family), and each
    * family keeps its minimum id.
    *
    * Output: (id, survivor_id, tier) for EVERY input row —
    *   tier = "keep"      : id == survivor_id (the family representative;
    *                        singletons keep themselves)
    *   tier = "exact"     : dropped, byte-identical to at least one other doc
    *   tier = "contained" : dropped, a containment VICTIM (its token set
    *                        is ≥-threshold contained in some other doc) —
    *                        directional: the contained doc drops, its
    *                        container stays eligible to keep
    *   tier = "near"      : dropped, connected through near-dup (or
    *                        container-side containment) edges only.
    * Tier precedence keep > exact > contained > near: byte-identity is
    * the strongest (and cheapest to re-verify) evidence, so it wins the
    * label even when a doc is also a containment victim.
    *
    * Deterministic and partitioning-invariant: survivor = min id of the
    * component; all edge tiers and the CC are order-independent.
    *
    * Scale shape: one content-hash shuffle (exact tier), the bucketed
    * MinHash pipeline (near tier, bounded buckets), one CC over match
    * edges only (|edges| << |corpus| after blocking) — no stage touches
    * the full pair space.
    *
    * Precondition (also for [[survivorsIncrementalDelta]]): `textCol`
    * must be non-null — md5(NULL) is NULL and the content-hash
    * equi-joins drop such rows from the decision table entirely (no keep
    * AND no drop), exactly as the SQL oracle's join does. Filter or
    * impute null text upstream. */
  def survivors(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      nHashes: Int = 64,
      rowsPerBand: Int = 8,
      minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      nearPairs: Option[NearPairTable] = None,
      containmentPairs: Option[DataFrame] = None): DataFrame = {
    nearPairs.foreach { np =>
      require(
        np.shingleK == shingleK && np.nHashes == nHashes &&
          np.rowsPerBand == rowsPerBand && np.minJaccard == minJaccard &&
          np.maxBucket == maxBucket,
        "nearPairs parameter drift: the supplied pair table was built with " +
          s"(shingleK=${np.shingleK}, nHashes=${np.nHashes}, rowsPerBand=${np.rowsPerBand}, " +
          s"minJaccard=${np.minJaccard}, maxBucket=${np.maxBucket}) but survivors() runs with " +
          s"(shingleK=$shingleK, nHashes=$nHashes, rowsPerBand=$rowsPerBand, " +
          s"minJaccard=$minJaccard, maxBucket=$maxBucket) — a mismatched table would change " +
          "survivor clusters silently")
    }
    val spark = df.sparkSession
    val hashed = df.select(
      col(idCol).cast("long").as("id"),
      md5(col(textCol).cast("binary")).as("content_hash"))
    val grp = hashed.groupBy("content_hash")
      .agg(min("id").as("gmin"), count(lit(1)).as("gsz"))
    val withG = hashed.join(grp, Seq("content_hash"))
      .select(col("id"), col("gmin"), (col("gsz") > 1).as("has_exact"))
    val exactEdges = withG.where(col("id") =!= col("gmin"))
      .select(col("id").as("a"), col("gmin").as("b"))
    // `nearPairs`: a caller that has ALREADY materialized the minhash pair
    // table for the same (input, shingleK, nHashes, rowsPerBand,
    // minJaccard, maxBucket) can pass it in to skip the second signature
    // computation — the catalog surfaces one pair table to two queries
    // this way. The parameter equality is ENFORCED above.
    val nearEdges = nearPairs.map(_.pairs)
      .getOrElse(minhashPairs(df, idCol, textCol, shingleK, nHashes,
        rowsPerBand, minJaccard, maxBucket))
      .select(col("id_a").as("a"), col("id_b").as("b"))
    // containmentPairs: (doc_a = the CONTAINED doc, doc_b = its container)
    // — e.g. graft.queries.Queries.containmentPairs. Edges join the two
    // into one family; the victim flag drives the "contained" tier.
    // Restricted to df's OWN ids first: a pair table built over a
    // superset corpus (the session memos) would otherwise make a ghost
    // id the component minimum — a dangling survivor_id pointing at a
    // doc with no output row, and a family with no 'keep' representative
    // (the silent-mismatch class NearPairTable guards against; id-scale
    // semi-joins, a no-op when the table already matches df).
    // localCheckpoint: the pair table feeds TWO consumers (edges +
    // victims) and its plan is the full prefix-filter join — eager
    // truncation runs it once (pair-scale rows, cheap to hold)
    val cont = containmentPairs.map(
      _.select(col("doc_a"), col("doc_b"))
        .join(hashed.select(col("id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(hashed.select(col("id").as("doc_b")), Seq("doc_b"), "left_semi")
        .localCheckpoint(true))
    val contEdges = cont.map(
      _.select(col("doc_a").as("a"), col("doc_b").as("b")))
    val edges = contEdges.foldLeft(exactEdges.unionByName(nearEdges))(_ unionByName _)
    val cc = graft.er.Clustering.connectedComponents(spark, edges)
    // containment victims: pair-table scale, distinct doc ids ≤ corpus
    withTiers(withG.join(cc, Seq("id"), "left"),
      cont.map(_.select(col("doc_a").as("id")).distinct()))
  }

  /** The tier policy, written once for the batch table, the index
    * bootstrap and both folds: survivor_id = coalesce(cluster, id), tier
    * precedence keep > exact > contained > near (see [[survivors]]).
    * `base` carries (id, has_exact, cluster); `victims` (id) is the
    * containment-victim set when the containment tier is maintained —
    * flagged via a left join, NOT a broadcast hint: victim volume is
    * corpus-derived (the no-forced-broadcast audit rule); AQE broadcasts
    * it from runtime stats while it fits. */
  private def withTiers(base: DataFrame, victims: Option[DataFrame]): DataFrame = {
    val withV = victims.foldLeft(base)((d, v) =>
      d.join(v.withColumn("is_contained", lit(true)), Seq("id"), "left"))
    val contained =
      if (victims.isDefined) coalesce(col("is_contained"), lit(false))
      else lit(false)
    withV
      .withColumn("survivor_id", coalesce(col("cluster"), col("id")))
      .withColumn(
        "tier",
        when(col("survivor_id") === col("id"), lit("keep"))
          .when(col("has_exact"), lit("exact"))
          .when(contained, lit("contained"))
          .otherwise(lit("near")))
      .select(col("id"), col("survivor_id"), col("tier"))
  }

  /** The standing dedup state a deployment maintains between crawl
    * increments — the relations [[survivorsIncrementalDelta]] folds a
    * document batch into. All frames should be persisted by the caller
    * (they are each read multiple times per fold):
    *   - `hashed` (id, content_hash): node-scale narrow table;
    *   - `sigs` (id, sig): the MinHash signature table;
    *   - `banded` (bucket, id, sig): the BANDED LSH index at rest — the
    *     signatures pre-exploded into their raw (uncapped) band buckets.
    *     This is what makes a fold batch-scale: the probe filters this
    *     table to the buckets the batch's bands touch instead of
    *     re-banding and bucket-shuffling the whole corpus per fold (at
    *     deployment, store it PARTITIONED BY bucket range so the touched
    *     filter is a pruned read). Deliberately denormalized (sig travels
    *     with the bucket row, nBands copies) so verification needs no
    *     id-join back to `sigs`; signatures are ~0.5 KB/doc, small next
    *     to the text corpus the index serves.
    *   - `bucketSizes` (bucket, bsz): the standing bucket census; the
    *     fold derives each touched bucket's UNION size as bsz + the
    *     batch's band delta — never a corpus-scale re-count.
    *   - `groups` (content_hash, gmin, gsz): the exact-dedup index;
    *   - `clusters` (id, cluster): converged CC over the standing
    *     exact+near edge graph (covers ids that appear in edges;
    *     isolated docs are singletons by omission, as in
    *     [[graft.er.Clustering.assign]]'s left-join convention).
    * Parameters are carried so a fold with drifted settings fails loudly
    * (the NearPairTable rule). */
  final case class SurvivorIndex(
      hashed: DataFrame,
      sigs: DataFrame,
      banded: DataFrame,
      bucketSizes: DataFrame,
      groups: DataFrame,
      clusters: DataFrame,
      shingleK: Int,
      nHashes: Int,
      rowsPerBand: Int,
      minJaccard: Double,
      maxBucket: Int,
      /** The STANDING decision table (id, survivor_id, tier) — what the
        * previous fold (or the bootstrap) already answered. Carried so a
        * fold can emit only the CHANGED rows and pass every other row
        * through untouched (round-6 verdict item 3: fold output volume
        * must track the batch, not re-derive the corpus-scale table). */
      decisions: DataFrame) {
    /** Every frame a caller should persist/unpersist as a unit. */
    def frames: Seq[DataFrame] =
      Seq(hashed, sigs, banded, bucketSizes, groups, clusters, decisions)
  }

  /** Build the standing index from a document table (the one-time batch
    * bootstrap; every later increment goes through
    * [[survivorsIncrementalDelta]]). `cache` is applied to each index
    * frame BEFORE downstream use — pass `_.persist(...)` so the
    * bootstrap's CC (which references sigs several times) and every later
    * fold read the materialized frames instead of re-shingling the
    * standing corpus. */
  def buildSurvivorIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      nHashes: Int = 64,
      rowsPerBand: Int = 8,
      minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      cache: DataFrame => DataFrame = identity): SurvivorIndex =
    buildIndex(df, idCol, textCol, shingleK, nHashes, rowsPerBand,
      minJaccard, maxBucket, cache, extraEdges = None, victims = None)

  /** [[buildSurvivorIndex]] with the containment tier of
    * [[buildFullSurvivorIndex]] folded in: `extraEdges` (a, b) are
    * contracted into the standing clusters with the exact and near edges,
    * and the standing decisions are assembled against `victims` — so the
    * one decision table the bootstrap persists is the one it returns. */
  private def buildIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      nHashes: Int,
      rowsPerBand: Int,
      minJaccard: Double,
      maxBucket: Int,
      cache: DataFrame => DataFrame,
      extraEdges: Option[DataFrame],
      victims: Option[DataFrame]): SurvivorIndex = {
    val spark = df.sparkSession
    val nBands = nHashes / rowsPerBand
    val hashed = cache(df.select(
      col(idCol).cast("long").as("id"),
      md5(col(textCol).cast("binary")).as("content_hash")))
    val sigs = cache(minhashSigs(df, idCol, textCol, shingleK, nHashes))
    val banded = cache(bandedSigs(sigs, nBands, rowsPerBand))
    val bucketSizes = cache(
      banded.groupBy("bucket").agg(count(lit(1)).as("bsz")))
    val groups = cache(hashed.groupBy("content_hash")
      .agg(min("id").as("gmin"), count(lit(1)).as("gsz")))
    val exactEdges = hashed.join(groups, Seq("content_hash"))
      .where(col("id") =!= col("gmin"))
      .select(col("id").as("a"), col("gmin").as("b"))
    // the bootstrap's own near edges reuse the at-rest banded frame + its
    // census — the last bandedSigs pass this index will ever run
    val nearEdges =
      minhashPairsFromBanded(
        capBucketsWith(banded, bucketSizes, maxBucket), nHashes, minJaccard)
        .select(col("id_a").as("a"), col("id_b").as("b"))
    // idx.clusters is CC over the SAME edge classes every later fold adds
    val clusters = cache(graft.er.Clustering.connectedComponents(
      spark, extraEdges.foldLeft(exactEdges.unionByName(nearEdges))(_ unionByName _)))
    SurvivorIndex(hashed, sigs, banded, bucketSizes, groups, clusters,
      shingleK, nHashes, rowsPerBand, minJaccard, maxBucket,
      decisions = cache(assembleDecisions(hashed, groups, clusters, victims)))
  }

  /** The (id, survivor_id, tier) assembly over a state — `hashed`
    * (id, content_hash) joined to its group sizes in `groups`
    * (content_hash, gsz) and its labels in `clusters` (id, cluster),
    * then [[withTiers]]. Seeds [[SurvivorIndex.decisions]] at bootstrap
    * and assembles every fold's rows, so all of them apply one rule. */
  private def assembleDecisions(
      hashed: DataFrame,
      groups: DataFrame,
      clusters: DataFrame,
      victims: Option[DataFrame]): DataFrame =
    withTiers(
      hashed.join(groups, Seq("content_hash"))
        .select(col("id"), (col("gsz") > 1).as("has_exact"))
        .join(clusters, Seq("id"), "left"),
      victims)

  /** A fold's result as (changed rows, full view) — round-6 verdict item
    * 3: the decision table is node-scale but only batch-scale pieces of
    * it can change per fold, so the fold emits exactly those CHANGED
    * rows and the full table is the standing decisions with the changed
    * ids passed over (anti-join + union — "touched rows + unchanged
    * passthrough"). `changed` covers precisely the ids whose row CAN
    * differ from the standing table: the batch's own ids, standing
    * members of content-hash groups the batch touched (has_exact can
    * flip, group-min relabels), standing ids whose cluster label merged
    * (survivor_id changes), and new containment victims (tier flips to
    * "contained"). Every other row is provably bit-unchanged: its union
    * group equals its standing group, its label was not relabeled, and
    * victimhood is monotone. */
  final case class SurvivorDelta(changed: DataFrame, full: DataFrame)

  /** Incremental survivors fold — the training-data refresh twin of
    * [[graft.er.Clustering.incrementalClustersWithDelta]]: fold a batch
    * of NEW documents into the standing index and return the refreshed
    * (id, survivor_id, tier) decision table over the union (`full`) and
    * its changed rows, WITHOUT re-shingling or re-clustering the
    * standing corpus.
    *
    * Per-fold cost tracks the batch: batch signatures + a touched-bucket
    * probe of the banded LSH index at rest (standing rows reached through
    * a broadcast semi-join on the batch's bucket deltas — a pruned
    * partition read when the index is stored bucket-partitioned; the
    * broadcast assumes batch ≪ corpus, the incremental premise — a
    * corpus-scale catch-up batch should re-bootstrap via
    * [[buildSurvivorIndex]] instead), a hash-scale merge of the
    * exact-dedup index, the contracted incremental CC, and two
    * node-scale narrow passes for the refreshed tiers. A standing doc's
    * row CAN change — a batch exact-duplicate flips its victim's tier to
    * "exact", and merged components change survivor_ids — which is why
    * the fold re-emits the full table (at 10^12 docs, partition the
    * rewrite by touched ranges, the [[graft.streaming.Streaming]]
    * compaction note).
    *
    * Exactness: equals `survivors()` over the union exactly as long as
    * no band bucket exceeds `maxBucket` in either the standing or the
    * union build — the same declared cap assumption the DuckDB oracle
    * already makes; an oversized bucket sub-buckets by a census that
    * differs between the two builds, and both paths are then declared
    * approximations. The gate proves equality at catalog scale. */
  def survivorsIncrementalDelta(
      idx: SurvivorIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String): SurvivorDelta = {
    val c = incrCore(idx, batch, idCol, textCol)
    val newEdges = c.newEdges.localCheckpoint(true)
    val ccd = graft.er.Clustering.incrementalClustersWithDelta(
      batch.sparkSession, idx.clusters, newEdges)
    incrAssembleDelta(idx, c, ccd, unionVictims = None, newVictims = None)
  }

  /** The batch-scale pieces shared by [[survivorsIncrementalDelta]] and
    * [[survivorsFullIncrementalDelta]]: batch hashes, the merged exact-dedup
    * index, and the new exact/relink/near edges (UN-truncated — the
    * caller checkpoints after unioning any extra edge tiers). */
  private final case class IncrCore(
      bHashed: DataFrame, merged: DataFrame, newEdges: DataFrame)

  private def incrCore(
      idx: SurvivorIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String): IncrCore = {
    val nBands = idx.nHashes / idx.rowsPerBand
    val bHashed = batch.select(
      col(idCol).cast("long").as("id"),
      md5(col(textCol).cast("binary")).as("content_hash"))
    val bSigs = persistSig(
      minhashSigs(batch, idCol, textCol, idx.shingleK, idx.nHashes))

    // exact-dedup index merge: min of mins, sum of counts (hash-scale).
    // localCheckpoint: merged feeds FOUR consumers (eBatch, eRelink, and
    // the tier pass twice through the edge plans) and the edges feed
    // incrementalClustersWithDelta's three terminal points — without eager
    // materialization the corpus-scale index scans re-run per consumer
    // (blocks reclaimed by the ContextCleaner, the EvalParagraphs
    // pattern; at deployment this materialization IS the next index
    // version being written anyway)
    val bGroups = bHashed.groupBy("content_hash")
      .agg(min("id").as("bmin"), count(lit(1)).as("bsz"))
    val sGroups = idx.groups.select(col("content_hash"),
      col("gmin").as("smin"), col("gsz").as("ssz"))
    val merged = sGroups.join(bGroups, Seq("content_hash"), "full_outer")
      .select(
        col("content_hash"),
        least(col("smin"), col("bmin")).as("gmin"), // least skips nulls
        (coalesce(col("ssz"), lit(0L)) + coalesce(col("bsz"), lit(0L))).as("gsz"),
        col("smin"))
      .localCheckpoint(true)

    // new exact edges: every batch doc to its union group min, plus a
    // relink edge when a batch doc took over a standing group's min (the
    // standing members already connect to the OLD min in idx.clusters)
    val eBatch = bHashed.join(merged, Seq("content_hash"))
      .where(col("id") =!= col("gmin"))
      .select(col("id").as("a"), col("gmin").as("b"))
    val eRelink = merged
      .where(col("smin").isNotNull && col("smin") =!= col("gmin"))
      .select(col("smin").as("a"), col("gmin").as("b"))

    // new near edges, probed against the BANDED INDEX AT REST: the batch's
    // bands are exploded (batch-scale), their bucket deltas update the
    // standing census incrementally (union size = standing bsz + delta —
    // no corpus re-count), and only standing rows in TOUCHED buckets are
    // read (a broadcast semi-join here; a pruned partition read when the
    // banded index is stored bucket-partitioned). Standing-standing pairs
    // are already contracted inside idx.clusters, so buckets the batch
    // never touches cannot contribute an edge. Sub-bucketing uses the
    // union census restricted to touched buckets — identical splits to a
    // full union re-band on every bucket the probe can reach, so the fold
    // stays EXACTLY equal to the former corpus-scale plan (and to batch
    // survivors() under the declared no-oversized-bucket assumption).
    // localCheckpoint: the batch band table feeds three consumers (delta
    // census, probe side, build side).
    val bBanded = bandedSigs(bSigs, nBands, idx.rowsPerBand)
      .localCheckpoint(true)
    val delta = bBanded.groupBy("bucket").agg(count(lit(1)).as("dsz"))
    val touchedFull = delta.join(idx.bucketSizes, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("bsz"), lit(0L)).as("sbz"), col("dsz"))
      .select(col("bucket"), col("sbz"), (col("sbz") + col("dsz")).as("bsz"))
    // Only the OVERSIZED touched buckets matter downstream — both
    // capBucketsWith sides broadcast exactly the above-cap rows, and the
    // crossing guard below reads the same rows. Collect them ONCE (the
    // skew tail of the BATCH's touched buckets — batch-scale bounded,
    // the same magnitude as the touched-bucket broadcast this fold
    // already ships) and serve the guard plus both cap joins from a
    // local relation: one job instead of a checkpoint + a guard action +
    // two broadcast evaluations of the census plan.
    val spark2 = batch.sparkSession
    import spark2.implicits._
    val hotRows = touchedFull.where(col("bsz") > idx.maxBucket)
      .select(col("bucket"), col("sbz"), col("bsz"))
      .collect()
    // LOUD guard (round-6 advice): when a batch pushes a bucket that was
    // under the cap past maxBucket, the fold's union-census sub-bucket
    // splits diverge from the standing-standing edges frozen in
    // idx.clusters at bootstrap — exact equality to batch survivors()
    // is no longer guaranteed for pairs inside that bucket. Detect the
    // regime and name the remedy instead of silently diverging.
    if (hotRows.exists(r => r.getLong(1) <= idx.maxBucket))
      System.err.println(
        "[graft.dedup.Dedup] WARNING: this batch pushes at least one LSH band " +
          s"bucket past maxBucket=${idx.maxBucket} (standing size was under the " +
          "cap) — the incremental fold's sub-bucket splits now diverge from the " +
          "standing cluster state and exact batch equality is not guaranteed " +
          "for pairs in the flooded bucket; re-bootstrap the index " +
          "(buildSurvivorIndex) on the union to restore the exact regime")
    // rows under the cap are never read by capBucketsWith (left join →
    // nb = 1), so the hot set IS a sufficient census
    val touched = hotRows.map(r => (r.getString(0), r.getLong(2)))
      .toSeq.toDF("bucket", "bsz")
    val standingTouched = idx.banded
      .join(broadcast(delta.select("bucket")), Seq("bucket"), "left_semi")
    val probeSide = capBucketsWith(bBanded, touched, idx.maxBucket)
    val buildSide = capBucketsWith(
      standingTouched.unionByName(bBanded), touched, idx.maxBucket)
    val near = probeSide
      .select(col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
      .join(buildSide.select(col("bucket"), col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("bucket"))
      .where(col("id_a") =!= col("id_b"))
      .withColumn("est_jaccard", sigAgreement(idx.nHashes))
      .where(col("est_jaccard") >= idx.minJaccard)
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .dropDuplicates("a", "b")

    IncrCore(bHashed, merged, eBatch.unionByName(eRelink).unionByName(near))
  }

  // ---------- containment-aware incremental index -----------------------------

  /** [[SurvivorIndex]] extended with the CONTAINMENT index at rest — the
    * standing state behind [[survivorsFullIncrementalDelta]] (the
    * incremental twin of `survivors(..., containmentPairs = ...)`):
    *   - `tokFreq` (tok, tf): the FROZEN rare-first token order (standing
    *     corpus frequencies). Frozen deliberately: the prefix filter is
    *     lossless under ANY total order applied consistently, so folds
    *     sort batch tokens under the bootstrap order (unseen → tf 0,
    *     ties by token string) instead of re-counting the corpus;
    *   - `toks` (doc_id, lang, source, n, stoks): standing docs' distinct
    *     tokens sorted by that order (the verification relation);
    *   - `contPrefix` (lang, source, doc_a, na, tok): standing prefix
    *     explode — probed when a BATCH doc may contain a standing one;
    *   - `contFull` (lang, source, doc_b, nb, tok): the standing inverted
    *     index — probed when a batch doc is contained in a standing one.
    *     At deployment both are stored partitioned by token, so a fold's
    *     touched-token semi-join is a pruned read (the `banded` rule);
    *   - `victims` (id): standing containment victims. Monotone — docs
    *     never leave the corpus, so a standing victim stays one.
    * `core.clusters` is CC over exact ∪ near ∪ CONTAINMENT edges (built
    * via buildIndex's extraEdges hook), matching the edge classes
    * every fold adds. */
  final case class FullSurvivorIndex(
      core: SurvivorIndex,
      tokFreq: DataFrame,
      toks: DataFrame,
      contPrefix: DataFrame,
      contFull: DataFrame,
      victims: DataFrame,
      /** Posting keys whose AT-REST inverted-index list was trimmed to
        * `maxPosting` entries (lang, source, tok, cnt — the census kept
        * at rest; EMPTY in the exact regime). See [[DefaultMaxPosting]]. */
      hotPostings: DataFrame = null,
      maxPosting: Int = DefaultMaxPosting,
      /** Number of trimmed posting keys, counted once at bootstrap: 0
        * means the cap never bound and every fold is exact — folds skip
        * the dropped-candidate accounting job entirely. */
      hotPostingCount: Long = 0L) {
    def frames: Seq[DataFrame] =
      core.frames ++ Seq(tokFreq, toks, contPrefix, contFull, victims) ++
        Option(hotPostings).toSeq
  }

  /** Cap on the containment inverted index's posting list per
    * (lang, source, token) AT REST — the round-6 verdict's fix for the
    * one unbounded read in the containment fold: a hot token (new
    * boilerplate entering the corpus) otherwise yields a posting read
    * that grows with the corpus, since containment has no size-ratio
    * bound to trim the container side with. Entries kept are the
    * maxPosting hash-smallest container docs (splitmix64 order — the
    * SourceCap discipline, deterministic and unbiased); the trimmed
    * keys' census stays at rest and every bootstrap/fold in the capped
    * regime LOGS its dropped-candidate count (no silent truncation).
    * Above-cap trimming makes containment recall on those keys a
    * DECLARED approximation (the DefaultMaxBucket precedent); the cap is
    * far above the catalog's posting sizes, so the oracle gate runs in
    * the exact regime. */
  val DefaultMaxPosting: Int = 4096

  /** Bootstrap the containment-aware standing index. `df` must carry
    * (idCol, textCol, lang, source) — containment blocks within
    * (lang, source), the catalog convention (Queries.containmentPairs).
    *
    * `reuseCore`: a [[SurvivorIndex]] already built over the SAME `df`
    * with the SAME parameters (enforced) — its at-rest frames (hashes,
    * signatures, banded index, census, groups) are reused as-is and only
    * the cluster state is recomputed, now over exact ∪ near ∪
    * CONTAINMENT edges (the full index's clusters must contract the same
    * edge classes every fold adds; the core's clusters lack the
    * containment tier). This is the session-catalog shape: one physical
    * LSH index, two cluster states. */
  def buildFullSurvivorIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      nHashes: Int = 64,
      rowsPerBand: Int = 8,
      minJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      cache: DataFrame => DataFrame = identity,
      reuseCore: Option[SurvivorIndex] = None,
      maxPosting: Int = DefaultMaxPosting): FullSurvivorIndex = {
    import graft.queries.Queries
    val d = df.select(col(idCol).cast("long").as("doc_id"),
      col("lang"), col("source"), col(textCol).as("text"))
    val tokFreq = cache(
      d.select(explode(array_distinct(split(col("text"), " "))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("tf")))
    val toks = cache(Queries.sortedToksFrozen(d, tokFreq))
    // the bootstrap's own containment pairs (standing-standing), feeding
    // edges + victims; localCheckpoint = the two-consumer survivors() rule
    val cp = Queries.containmentPairsFrom(toks)
      .select("doc_a", "doc_b").localCheckpoint(true)
    val contEdges = cp.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val victimsFrame = cache(cp.select(col("doc_a").as("id")).distinct())
    // the FULL index's standing decisions are CONTAINMENT-AWARE (victims
    // flagged, clusters over all three edge tiers) — they must not share
    // the plain core's decision table (two cluster states, two decision
    // tables; the reuseCore shape shares only the at-rest LSH frames)
    val core = reuseCore match {
      case Some(c) =>
        require(c.shingleK == shingleK && c.nHashes == nHashes &&
          c.rowsPerBand == rowsPerBand && c.minJaccard == minJaccard &&
          c.maxBucket == maxBucket,
          "reuseCore parameter drift: the supplied index was built with " +
            s"(shingleK=${c.shingleK}, nHashes=${c.nHashes}, rowsPerBand=${c.rowsPerBand}, " +
            s"minJaccard=${c.minJaccard}, maxBucket=${c.maxBucket}) but buildFullSurvivorIndex " +
            s"runs with (shingleK=$shingleK, nHashes=$nHashes, rowsPerBand=$rowsPerBand, " +
            s"minJaccard=$minJaccard, maxBucket=$maxBucket)")
        // re-derive the edge classes from the AT-REST frames (no second
        // shingling/banding pass) and re-cluster with containment in
        val exactEdges = c.hashed.join(c.groups, Seq("content_hash"))
          .where(col("id") =!= col("gmin"))
          .select(col("id").as("a"), col("gmin").as("b"))
        val nearEdges = minhashPairsFromBanded(
          capBucketsWith(c.banded, c.bucketSizes, c.maxBucket),
          c.nHashes, c.minJaccard)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        val clusters = cache(graft.er.Clustering.connectedComponents(
          df.sparkSession,
          exactEdges.unionByName(nearEdges).unionByName(contEdges)))
        c.copy(clusters = clusters, decisions = cache(assembleDecisions(
          c.hashed, c.groups, clusters, victims = Some(victimsFrame))))
      case None =>
        buildIndex(df, idCol, textCol, shingleK, nHashes,
          rowsPerBand, minJaccard, maxBucket, cache,
          extraEdges = Some(contEdges), victims = Some(victimsFrame))
    }
    // posting-list cap at rest (round-6 verdict): census the inverted
    // index, trim above-cap keys to the maxPosting hash-smallest
    // containers, keep the trimmed-key census. When no key exceeds the
    // cap (the catalog regime) the stored relation — and every fold — is
    // bit-identical to the uncapped index and the window never runs.
    val contFullRaw = Queries.contFullExplode(toks)
    val hot = cache(
      contFullRaw.groupBy("lang", "source", "tok")
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > maxPosting))
    val hotN = hot.count()
    val contFull =
      if (hotN == 0L) cache(contFullRaw)
      else {
        val dropped = hot.agg(sum(col("cnt") - lit(maxPosting.toLong))).head().getLong(0)
        System.err.println(
          s"[graft.dedup.Dedup] containment index: $hotN posting key(s) exceed " +
            s"maxPosting=$maxPosting — trimmed to the hash-smallest entries " +
            s"($dropped container postings dropped at rest; containment recall " +
            "on those keys is a DECLARED approximation — raise maxPosting for " +
            "the exact regime)")
        import org.apache.spark.sql.expressions.Window
        val capKeyUdf = udf(graft.curate.SourceCap.capKey _)
        val w = Window.partitionBy("lang", "source", "tok")
          .orderBy(col("pk"), col("doc_b"))
        cache(contFullRaw
          .withColumn("pk", capKeyUdf(col("doc_b")))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= maxPosting)
          .drop("pk", "rn"))
      }
    FullSurvivorIndex(core, tokFreq, toks,
      cache(Queries.contPrefixExplode(toks)),
      contFull,
      victimsFrame,
      hotPostings = hot,
      maxPosting = maxPosting,
      hotPostingCount = hotN)
  }

  /** New containment pairs a batch introduces against the standing index
    * (and within itself) — both directions, candidates probed only at
    * the (lang, source, tok) keys the batch touches (broadcast semi-joins
    * on batch-derived key sets: the batch ≪ corpus premise shared with
    * the banded probe; a pruned partition read when the index is stored
    * token-partitioned). Standing-standing pairs are already contracted
    * in core.clusters / victims, so untouched keys cannot contribute. */
  private def incrContainmentPairs(
      fidx: FullSurvivorIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    import graft.queries.Queries
    val b = batch.select(col(idCol).cast("long").as("doc_id"),
      col("lang"), col("source"), col(textCol).as("text"))
    // batch tokens under the FROZEN order; localCheckpoint: feeds four
    // consumers (both explodes + the union verification relation)
    val bToks = Queries.sortedToksFrozen(b, fidx.tokFreq).localCheckpoint(true)
    val bPref = Queries.contPrefixExplode(bToks)
    val bFull = Queries.contFullExplode(bToks)
    // capped-regime accounting (no silent truncation): when the standing
    // inverted index trimmed any posting list, count the container
    // candidates this batch's prefix tokens can no longer reach and log
    // them. Skipped entirely in the exact regime (hotPostingCount == 0 —
    // the catalog gate's regime), so the exact path pays no extra job.
    if (fidx.hotPostingCount > 0L) {
      val dropped = bPref.select("lang", "source", "tok").distinct()
        .join(fidx.hotPostings, Seq("lang", "source", "tok"))
        .agg(coalesce(sum(col("cnt") - lit(fidx.maxPosting.toLong)), lit(0L)))
        .head().getLong(0)
      if (dropped > 0L) System.err.println(
        s"[graft.dedup.Dedup] containment fold: batch prefix tokens hit trimmed " +
          s"posting keys — $dropped standing container candidate(s) were not " +
          s"probed (maxPosting=${fidx.maxPosting} cap; declared approximation)")
    }
    // direction 1: contained = batch doc, container = union
    val standingFull = fidx.contFull.join(
      broadcast(bPref.select("lang", "source", "tok").distinct()),
      Seq("lang", "source", "tok"), "left_semi")
    val cand1 = bPref.join(standingFull.unionByName(bFull),
      Seq("lang", "source", "tok"))
    // direction 2: contained = standing doc, container = batch doc
    val standingPref = fidx.contPrefix.join(
      broadcast(bFull.select("lang", "source", "tok").distinct()),
      Seq("lang", "source", "tok"), "left_semi")
    val cand2 = standingPref.join(bFull, Seq("lang", "source", "tok"))
    // the same impossible-candidate pruning as containmentCandidates,
    // BEFORE the dedup shuffle
    val cands = cand1.unionByName(cand2)
      .where(col("doc_a") =!= col("doc_b") &&
        col("nb") * lit(5) >= col("na") * lit(4))
      .select("doc_a", "doc_b").distinct()
    // integer verification against the union token relation (candidates
    // are batch-scale; AQE broadcasts them into the corpus-scale fetches)
    val allToks = fidx.toks.unionByName(bToks)
    cands
      .join(allToks.select(col("doc_id").as("doc_a"),
        col("stoks").as("toks_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(allToks.select(col("doc_id").as("doc_b"),
        col("stoks").as("toks_b")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("bigint"))
      .where(col("inter") * lit(5) >= col("n_a") * lit(4))
      .select("doc_a", "doc_b")
  }

  /** Containment-aware incremental survivors — the fold for
    * [[FullSurvivorIndex]], equal to
    * `survivors(union, ..., containmentPairs = containmentPairs(union))`
    * exactly (the token ORDER differs — frozen vs union frequencies —
    * but order affects only candidate generation, which is lossless
    * under any consistent total order; the integer verification and the
    * tier rules are identical). The oracle gates that equality. Returns
    * the refreshed table with its changed-row set (see [[SurvivorDelta]]). */
  def survivorsFullIncrementalDelta(
      fidx: FullSurvivorIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String): SurvivorDelta = {
    val idx = fidx.core
    val c = incrCore(idx, batch, idCol, textCol)
    // localCheckpoint: the new pair table feeds edges + victims (the
    // survivors() two-consumer rule); edges checkpoint so the banded and
    // containment probes run once, not per CC-fold terminal
    val newCont = incrContainmentPairs(fidx, batch, idCol, textCol)
      .localCheckpoint(true)
    val newEdges = c.newEdges
      .unionByName(newCont.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .localCheckpoint(true)
    val ccd = graft.er.Clustering.incrementalClustersWithDelta(
      batch.sparkSession, idx.clusters, newEdges)
    val newVictims = newCont.select(col("doc_a").as("id")).distinct()
    val victims = fidx.victims.unionByName(newVictims).distinct()
    incrAssembleDelta(idx, c, ccd,
      unionVictims = Some(victims), newVictims = Some(newVictims))
  }

  /** The delta-emitting assembly behind both folds. When the CC fold hit
    * its fallback (corpus-sized batch) regime the whole union table is
    * re-assembled — there `changed == full`. */
  private def incrAssembleDelta(
      idx: SurvivorIndex,
      c: IncrCore,
      ccd: graft.er.Clustering.IncrementalCc,
      unionVictims: Option[DataFrame],
      newVictims: Option[DataFrame]): SurvivorDelta = {
    if (ccd.changedIsFull) {
      val f = assembleDecisions(idx.hashed.unionByName(c.bHashed), c.merged,
        ccd.assignment, unionVictims)
      return SurvivorDelta(f, f)
    }
    // ids whose decision row can differ from the standing table
    val touchedHashes = c.bHashed.select("content_hash").distinct()
    val groupIds = idx.hashed
      .join(broadcast(touchedHashes), Seq("content_hash"), "left_semi")
      .select("id")
    val changedIds = newVictims
      .foldLeft(c.bHashed.select("id")
        .unionByName(groupIds)
        .unionByName(ccd.changed.select("id")))(_ unionByName _.select("id"))
      .distinct()
      .localCheckpoint(true)
    // cluster labels for the changed ids: relabeled/new ids carry their
    // fold label; the rest keep their standing label (narrow broadcast
    // probes of the node-scale tables — the CC fold's own shape)
    val fromCc = ccd.changed
    val standingAssign = idx.clusters
      .join(broadcast(changedIds), Seq("id"), "left_semi")
      .join(broadcast(fromCc.select("id")), Seq("id"), "left_anti")
    val assignForChanged = fromCc.unionByName(standingAssign)
    // tier assembly restricted to the changed ids (the survivors() rules)
    def onChanged(d: DataFrame) = d.join(broadcast(changedIds), Seq("id"), "left_semi")
    val changed = assembleDecisions(
      onChanged(idx.hashed.unionByName(c.bHashed)), c.merged,
      assignForChanged, unionVictims.map(onChanged))
    // full view = unchanged standing rows passed through + the changed rows
    val full = idx.decisions
      .join(broadcast(changedIds), Seq("id"), "left_anti")
      .unionByName(changed)
    SurvivorDelta(changed, full)
  }

  // ---------- embedding cosine ------------------------------------------------

  /** Cosine similarity of two double-array columns — native fused-loop
    * expression (graft.functions.CosineExpr); callers cast float arrays to
    * array<double> first. */
  def cosineCol(a: Column, b: Column): Column =
    graft.functions.CosineExpr.cosine_sim(a, b)

  /** Embedding near-duplicate pairs (cosine >= minCosine) via
    * random-hyperplane LSH: `nBits`-bit sign signature, bucketed by
    * `bandBits`-bit bands (pairs at angle θ collide on a band with
    * probability (1 - θ/π)^bandBits per band). Verified cosine inside the
    * bucket. */
  def embeddingDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.9,
      nBits: Int = 16,
      bandBits: Int = 4,
      seed: Long = 42L,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val dim = base.select(size(col("v"))).head().getInt(0)
    val planesB = spark.sparkContext.broadcast(hyperplanes(seed, nBits, dim))
    // persisted: referenced 4x in the plan with no exchange reuse (see
    // minhashPairs)
    val signed = persistSig(base.as[(Long, Seq[Double])].map { case (id, v) =>
      (id, v, signSignature(planesB.value, v))
    }.toDF("id", "v", "sig"))
    val nBands = nBits / bandBits
    val banded = capBuckets(signed.select(
      col("id"), col("v"),
      explode(expr(
        s"transform(sequence(0, ${nBands - 1}), b -> " +
          s"concat(cast(b as string), ':', cast((sig div shiftleft(1L, b * $bandBits)) % shiftleft(1L, $bandBits) as string)))"))
        .as("bucket")), maxBucket)
    val l = banded.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val r = banded.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine", cosineCol(col("v_a"), col("v_b")))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
      .dropDuplicates("id_a", "id_b")
  }
}
