package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.queries.TrainingDataQueries

/** Timing evidence for the incremental survivors fold (dd_survivors_incr).
  *
  * Two parts:
  *   1. Catalog warm fold at sf0.1 + a stage decomposition replicating
  *      the fold body with the catalog's own parameters (read from the
  *      memoized SurvivorIndex), as in round 5.
  *   2. INDEX-GROWTH evidence (round-6): the SAME ~125-doc batch folded
  *      into a standing index bootstrapped at sf0.01 (375 docs) and at
  *      sf0.1 (~4880 docs) — 13× the standing corpus. With the banded
  *      LSH index at rest the near-edge probe touches only the buckets
  *      the batch's bands hit, so the edge-derivation stage should stay
  *      roughly FLAT as the index grows; only the refreshed decision
  *      table (corpus-scale by contract — it re-emits a row per doc)
  *      may grow, linearly in output size. Before round 6 this could not
  *      hold: the fold re-banded and bucket-shuffled the whole standing
  *      signature table per fold (O(index) per batch).
  */
object IncrSurvProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[probe] $name: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }

    // ---- part 1: catalog fold + stage decomposition (round-5 shape) ----
    time("warmup")(TrainingDataQueries.ddSurvivorsIncr(spark, dir).count())
    Dedup.releaseSignatures()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = time("idx_lookup")(TrainingDataQueries.survivorIndex(spark, dir))
    val batch01 = docs.where(TrainingDataQueries.incrIsNewDoc)
    probeStages(spark, "sf0.1-catalog", idx, batch01)

    // ---- part 2: fixed batch, 13x standing-index growth ----
    val docsSmall = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    // fixed batch: the sf0.01 "new crawl" split (~125 docs)
    val batch = docsSmall.where(TrainingDataQueries.incrIsNewDoc)
      .localCheckpoint(true)
    val batchIds = batch.select(col("doc_id"))
    val standingSmall = docsSmall.where(!TrainingDataQueries.incrIsNewDoc)
    // big standing corpus: all sf0.1 docs minus the batch's ids (sf0.01
    // ids are a prefix of sf0.1's) — anti-join against 125 ids
    val standingBig = docs.join(broadcast(batchIds), Seq("doc_id"), "left_anti")
    def build(name: String, standing: DataFrame): Dedup.SurvivorIndex = {
      val ix = Dedup.buildSurvivorIndex(standing, "doc_id", "text",
        minJaccard = 0.35,
        cache = _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      time(s"$name bootstrap (untimed setup, materialize)") {
        ix.frames.foreach(_.count())
      }
      ix
    }
    def foldTimes(name: String, ix: Dedup.SurvivorIndex): Unit = {
      // min-of-2 warm folds: full fold wall (includes the corpus-scale
      // decision-table rewrite) …
      var best = Double.MaxValue
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        Dedup.survivorsIncrementalDelta(ix, batch, "doc_id", "text").full.count()
        Dedup.releaseSignatures()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[probe] $name full fold (min-of-2): $best%.2f s")
      // … and the edge-derivation stages alone (the part the banded
      // index makes batch-scale)
      probeStages(spark, name, ix, batch)
    }
    val ixSmall = build("standing=375", standingSmall)
    foldTimes("standing=375", ixSmall)
    ixSmall.frames.foreach(_.unpersist(true))
    val ixBig = build("standing=4875", standingBig)
    foldTimes("standing=4875", ixBig)
    ixBig.frames.foreach(_.unpersist(true))

    // ---- part 3 (round-6 second wave): CONTAINMENT-AWARE fold growth ----
    // same fixed batch, full index (exact + near + containment at rest)
    // at 1x and 13x standing — the containment probe should track the
    // batch's touched (lang, source, token) keys, not the corpus
    def buildFull(name: String, standing: DataFrame): Dedup.FullSurvivorIndex = {
      val ix = Dedup.buildFullSurvivorIndex(standing, "doc_id", "text",
        minJaccard = 0.35,
        cache = _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      time(s"$name full-index bootstrap (untimed setup, materialize)") {
        ix.frames.foreach(_.count())
      }
      ix
    }
    def foldFullTimes(name: String, ix: Dedup.FullSurvivorIndex): Unit = {
      var best = Double.MaxValue
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        Dedup.survivorsFullIncrementalDelta(ix, batch, "doc_id", "text").full.count()
        Dedup.releaseSignatures()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[probe] $name full-index fold (min-of-2): $best%.2f s")
    }
    val fxSmall = buildFull("standing=375", standingSmall)
    foldFullTimes("standing=375", fxSmall)
    fxSmall.frames.foreach(_.unpersist(true))
    val fxBig = buildFull("standing=4875", standingBig)
    foldFullTimes("standing=4875", fxBig)
    fxBig.frames.foreach(_.unpersist(true))
    spark.stop()
  }

  /** Replicates the fold body stage by stage (same params as the index)
    * and prints per-stage walls. */
  private def probeStages(
      spark: SparkSession, tag: String, idx: Dedup.SurvivorIndex, batch: DataFrame): Unit = {
    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[probe] $tag $name: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    val bHashed = batch.select(col("doc_id").cast("long").as("id"),
      md5(col("text").cast("binary")).as("content_hash"))
    val bSigs = Dedup.minhashSigs(batch, "doc_id", "text", idx.shingleK, idx.nHashes).cache()
    time("b_sigs")(bSigs.count())
    val bGroups = bHashed.groupBy("content_hash").agg(min("id").as("bmin"), count(lit(1)).as("bsz"))
    val sGroups = idx.groups.select(col("content_hash"), col("gmin").as("smin"), col("gsz").as("ssz"))
    val merged = sGroups.join(bGroups, Seq("content_hash"), "full_outer")
      .select(col("content_hash"), least(col("smin"), col("bmin")).as("gmin"),
        (coalesce(col("ssz"), lit(0L)) + coalesce(col("bsz"), lit(0L))).as("gsz"), col("smin")).cache()
    time("merged_groups")(merged.count())
    val eBatch = bHashed.join(merged, Seq("content_hash")).where(col("id") =!= col("gmin"))
      .select(col("id").as("a"), col("gmin").as("b"))
    val eRelink = merged.where(col("smin").isNotNull && col("smin") =!= col("gmin"))
      .select(col("smin").as("a"), col("gmin").as("b"))
    // round-6 banded-index probe: batch bands + touched-bucket semi-join
    val nBands = idx.nHashes / idx.rowsPerBand
    val bBanded = Dedup.bandedSigs(bSigs, nBands, idx.rowsPerBand).cache()
    time("b_banded")(bBanded.count())
    val delta = bBanded.groupBy("bucket").agg(count(lit(1)).as("dsz"))
    val touched = delta.join(idx.bucketSizes, Seq("bucket"), "left")
      .select(col("bucket"), (coalesce(col("bsz"), lit(0L)) + col("dsz")).as("bsz"))
    val standingTouched = idx.banded
      .join(broadcast(delta.select("bucket")), Seq("bucket"), "left_semi")
    val probeSide = Dedup.capBucketsWith(bBanded, touched, idx.maxBucket)
    val buildSide = Dedup.capBucketsWith(
      standingTouched.unionByName(bBanded), touched, idx.maxBucket)
    val near = probeSide.select(col("bucket"), col("id").as("id_a"), col("sig").as("sig_a"))
      .join(buildSide.select(col("bucket"), col("id").as("id_b"), col("sig").as("sig_b")), Seq("bucket"))
      .where(col("id_a") =!= col("id_b"))
      .withColumn("est_jaccard", expr(
        s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast(${idx.nHashes} as double)"))
      .where(col("est_jaccard") >= idx.minJaccard)
      .select(least(col("id_a"), col("id_b")).as("a"), greatest(col("id_a"), col("id_b")).as("b"))
      .dropDuplicates("a", "b")
    val edges = eBatch.unionByName(eRelink).unionByName(near).cache()
    time("edges")(edges.count())
    val c2 = time("incr_cc")(
      { val c = graft.er.Clustering.incrementalClustersWithDelta(spark, idx.clusters, edges)
          .assignment.cache(); c.count(); c })
    time("tier_pass")(
      idx.hashed.unionByName(bHashed)
        .join(merged.select(col("content_hash"), col("gsz")), Seq("content_hash"))
        .select(col("id"), (col("gsz") > 1).as("has_exact"))
        .join(c2, Seq("id"), "left").count())
    Seq(bSigs, merged, bBanded, edges, c2).foreach(_.unpersist(false))
  }
}
