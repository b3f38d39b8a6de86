package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** sf1-scale smoke for the INCREMENTAL MAINTENANCE family (round-6
  * verdict item 5): bootstrap each standing state at ~10× the bench
  * catalog's scale, fold a catalog-sized batch, report fold wall +
  * peak cached storage for BASELINE.md.
  *
  *   - dd_survivors_incr: 50 000-doc standing corpus (the sf0.1 catalog
  *     folds into ~3 750), planted near/exact duplicate families in the
  *     DedupAnnSpec shape, batch = ~1 250 docs (the sf0.1 batch size).
  *   - er_clusters_incr: standing assignment from CC over a synthetic
  *     10 M-edge graph on 2 M nodes (the catalog's standing graphs are
  *     node-scale 10k), batch = 100 k edges.
  *
  * Everything is generated distributed (spark.range + hash expressions,
  * no driver loops, no RNG) so the smoke is deterministic and runs at
  * any scale knob. */
object MaintSf1Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def storageMb: Double = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      println(f"[maintsf1] $name: ${(System.nanoTime()-t0)/1e9}%.1f s"); r
    }

    // ---- part 1: dd_survivors_incr at 10x standing ----
    val nDocs = sys.env.getOrElse("SMOKE_DOCS", "50000").toLong
    def docText(changed: Boolean) = {
      val word = if (changed) "if (i = 3, 'CHANGED', concat('w', pmod(xxhash64(doc_id, i), 800)))"
      else "concat('w', pmod(xxhash64(doc_id, i), 800))"
      expr(s"concat_ws(' ', transform(sequence(0, 59), i -> $word))")
    }
    val base = spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("text", docText(changed = false))
    val near = spark.range(nDocs / 4).select(col("id").as("doc_id"))
      .withColumn("text", docText(changed = true))
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val exact = spark.range(nDocs / 8).select(col("id").as("doc_id"))
      .withColumn("text", docText(changed = false))
      .withColumn("doc_id", col("doc_id") + lit(20000000L))
    // near/exact plants reuse the ORIGINAL id's text: regenerate with the
    // base id before offsetting — do it by generating text first, then
    // offsetting the id (order of withColumn above ensures that)
    val corpus = base.unionByName(near).unionByName(exact)
      .localCheckpoint(true)
    val isBatch = pmod(xxhash64(col("doc_id")), lit(41)) === 0
    val standing = corpus.where(!isBatch)
    val batch = corpus.where(isBatch).localCheckpoint(true)
    println(s"[maintsf1] dd standing=${standing.count()} batch=${batch.count()}")
    val idx = time("dd bootstrap (one-time setup)") {
      val ix = Dedup.buildSurvivorIndex(standing, "doc_id", "text",
        minJaccard = 0.35,
        cache = _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      ix.frames.foreach(_.count())
      ix
    }
    println(f"[maintsf1] dd storage after bootstrap: $storageMb%.0f MB")
    var bestFold = Double.MaxValue
    (1 to 2).foreach { _ =>
      val t0 = System.nanoTime()
      val n = Dedup.survivorsIncrementalDelta(idx, batch, "doc_id", "text").full.count()
      Dedup.releaseSignatures()
      bestFold = math.min(bestFold, (System.nanoTime() - t0) / 1e9)
      require(n == corpus.count(), "fold must re-emit the union decision table")
    }
    println(f"[maintsf1] dd_survivors_incr fold (min-of-2): $bestFold%.1f s, " +
      f"peak storage $storageMb%.0f MB")
    // round-7 (verdict item 3): the fold's EMITTED delta tracks the
    // batch — changed rows vs the full passthrough view
    locally {
      val delta = Dedup.survivorsIncrementalDelta(idx, batch, "doc_id", "text")
      val nChanged = delta.changed.count()
      val nFull = delta.full.count()
      Dedup.releaseSignatures()
      println(f"[maintsf1] dd fold output: $nChanged%d changed rows of $nFull%d total " +
        f"(${100.0 * nChanged / nFull}%.1f%% — touched rows + unchanged passthrough)")
    }
    idx.frames.foreach(_.unpersist(true))

    // ---- part 2: er_clusters_incr at 10x standing ----
    val nEdges = sys.env.getOrElse("SMOKE_EDGES", "10000000").toLong
    val nNodes = 2000000L
    val standE = spark.range(nEdges).select(
      pmod(xxhash64(col("id"), lit(1)), lit(nNodes)).as("a"),
      pmod(xxhash64(col("id"), lit(2)), lit(nNodes)).as("b"))
    val clusters = time("cc bootstrap (one-time setup)") {
      val c = graft.er.Clustering.connectedComponents(spark, standE)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(s"[maintsf1] standing assignment rows=${c.count()}")
      c
    }
    println(f"[maintsf1] cc storage after bootstrap: $storageMb%.0f MB")
    val batchE = spark.range(100000).select(
      pmod(xxhash64(col("id"), lit(3)), lit(nNodes + 50000L)).as("a"),
      pmod(xxhash64(col("id"), lit(4)), lit(nNodes + 50000L)).as("b"))
      .localCheckpoint(true)
    var bestCc = Double.MaxValue
    (1 to 2).foreach { _ =>
      val t0 = System.nanoTime()
      graft.er.Clustering.incrementalClustersWithDelta(spark, clusters, batchE)
        .assignment.count()
      bestCc = math.min(bestCc, (System.nanoTime() - t0) / 1e9)
    }
    println(f"[maintsf1] er_clusters_incr fold (min-of-2): $bestCc%.1f s, " +
      f"peak storage $storageMb%.0f MB")
    clusters.unpersist(true)

    // ---- part 3 (round-6 second wave): containment-aware fold at 10x ----
    // the same corpus with synthetic (lang, source) blocks for the
    // containment tier (4 langs x 10 sources)
    val corpusLS = corpus
      .withColumn("lang", concat(lit("l"), pmod(xxhash64(col("doc_id"), lit(101)), lit(4))))
      .withColumn("source", concat(lit("s"), pmod(xxhash64(col("doc_id"), lit(102)), lit(10))))
      .localCheckpoint(true)
    val standingLS = corpusLS.where(!isBatch)
    val batchLS = corpusLS.where(isBatch).localCheckpoint(true)
    val fidx = time("dd full-index bootstrap (one-time setup)") {
      val ix = Dedup.buildFullSurvivorIndex(standingLS, "doc_id", "text",
        minJaccard = 0.35,
        cache = _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      ix.frames.foreach(_.count())
      ix
    }
    println(f"[maintsf1] dd full storage after bootstrap: $storageMb%.0f MB")
    var bestFull = Double.MaxValue
    (1 to 2).foreach { _ =>
      val t0 = System.nanoTime()
      val n = Dedup.survivorsFullIncrementalDelta(fidx, batchLS, "doc_id", "text")
        .full.count()
      Dedup.releaseSignatures()
      bestFull = math.min(bestFull, (System.nanoTime() - t0) / 1e9)
      require(n == corpusLS.count(), "fold must re-emit the union decision table")
    }
    println(f"[maintsf1] dd_survivors_full_incr fold (min-of-2): $bestFull%.1f s, " +
      f"peak storage $storageMb%.0f MB")
    fidx.frames.foreach(_.unpersist(true))

    // ---- part 4 (round-6 second wave): dup-ngram fold at 10x ----
    val didx = time("dup-ngram bootstrap (one-time setup)") {
      val ix = graft.curate.Decontam.buildDupNgramIndex(standing, "doc_id", "text",
        n = 8, cache = _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      ix.frames.foreach(_.count())
      ix
    }
    println(f"[maintsf1] dup-ngram storage after bootstrap: $storageMb%.0f MB")
    var bestDng = Double.MaxValue
    (1 to 2).foreach { _ =>
      val t0 = System.nanoTime()
      val n = graft.curate.Decontam.foldDupNgramIndex(
        didx, batch, "doc_id", "text").index.stats.count()
      bestDng = math.min(bestDng, (System.nanoTime() - t0) / 1e9)
      require(n == corpus.count(), "fold must re-emit the union stats table")
    }
    println(f"[maintsf1] dc_dup_ngrams_incr fold (min-of-2): $bestDng%.1f s, " +
      f"peak storage $storageMb%.0f MB")
    spark.stop()
  }
}
