package graft.er

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.Mention

/** Candidate blocking (SURVEY.md §2.4 J1/J9): normalized-surface,
  * surface-prefix and context MinHash-LSH keys, sub-bucketed and
  * repartitioned by the BlockPairs operator.
  *
  * Each mention emits a small set of blocking keys; candidate pairs are the
  * within-block id pairs. Skew discipline (§4.3) is the BlockPairs
  * operator's: blocks larger than `maxBlock` are deterministically
  * sub-bucketed (`key#b`, b = pmod(xxhash64(id, key), ceil(size/maxBlock))),
  * which caps the per-block pair count at ~maxBlock²/2 instead of dropping
  * hot keys. A pair whose shared blocks are all split apart this way is
  * not a candidate; no counter records those pairs yet (ROADMAP item 5).
  * Scoring.scoreFused then walks one sub-bucketed block at a time, so a
  * task holds ~maxBlock rows however hot a key is.
  */
object Blocking {

  /** `maxBlock`: the sub-bucketing cap (BlockPairs). */
  final case class Config(maxBlock: Int = 512)

  /** The context MinHash key: 8 hashes in bands of 2 rows. */
  private val MinhashHashes = 8
  private val MinhashBandRows = 2

  /** Prefix key: first 4 chars of the first token + first 2 of the second —
    * invariant under the tail-of-word typo class that pair scoring is meant
    * to recover (edit distance 1-2 past position 2). */
  def prefixKey(norm: String): String = {
    val sp = norm.indexOf(' ')
    if (sp < 0) "p:" + norm.take(4)
    else "p:" + norm.take(math.min(4, sp)) + ":" + norm.substring(sp + 1).take(2)
  }

  /** Deterministic minhash over a token set. Hash family h_i(x) =
    * splitmix64(seed_i ^ token64); tokens hashed once, min per function. */
  def minhashSig(tokens: Seq[String], nHashes: Int): Array[Long] = {
    val sig = Array.fill(nHashes)(Long.MaxValue)
    tokens.foreach { t =>
      var th = 0x7A3C9B1DL
      var i = 0
      while (i < t.length) { th = graft.synth.Synth.splitmix64(th ^ t.charAt(i).toLong); i += 1 }
      var k = 0
      while (k < nHashes) {
        val h = graft.synth.Synth.splitmix64(th ^ (0xABCDEF01L * (k + 1)))
        if (h < sig(k)) sig(k) = h
        k += 1
      }
    }
    sig
  }

  def bandKeys(tokens: Seq[String], nHashes: Int, bandRows: Int): Seq[String] = {
    if (tokens.isEmpty) return Nil
    val sig = minhashSig(tokens, nHashes)
    sig.grouped(bandRows).zipWithIndex.map { case (band, b) =>
      val h = band.foldLeft(0x13579BDFL)((a, v) => graft.synth.Synth.splitmix64(a ^ v))
      "m" + b + ":" + java.lang.Long.toHexString(h)
    }.toSeq
  }

  def keysFor(m: Mention): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (m.norm_surface.nonEmpty) {
      b += ("s:" + m.norm_surface)
      b += prefixKey(m.norm_surface)
    }
    b ++= bandKeys(m.context, MinhashHashes, MinhashBandRows)
    b.result().distinct
  }

  /** (key, id) exploded table — the blocking relation. */
  def keyed(mentions: Dataset[Mention]): DataFrame = {
    import mentions.sparkSession.implicits._
    mentions.flatMap(m => keysFor(m).map(k => (k, m.mention_id))).toDF("key", "id")
  }

  /** (bkey, id, ns, ctx, gold, bkeys) — the blocking relation carrying
    * scoring attributes, one row per (mention, block): BlockPairs.bucketed
    * over the mentions' keys, so oversized blocks are sub-bucketed and
    * `bkeys` is the mention's sorted block list (Scoring.scoreFused scores
    * a pair only in the least block the two lists share). Runs the
    * hot-key census (one job) when called.
    *
    * Context tokens travel as SORTED 64-bit hashes: the pair kernel is
    * memory-bandwidth bound, and hashes cut row bytes ~3x vs string
    * arrays (Jaccard over them via SortedLongJaccardExpr is exact modulo
    * 64-bit collisions). */
  def keyedWithAttrs(mentions: Dataset[Mention], cfg: Config): DataFrame = {
    import mentions.sparkSession.implicits._
    val rows = mentions.map { m =>
      (m.mention_id, keysFor(m), m.norm_surface,
        m.context.map(graft.dedup.Dedup.hashString).toArray.sorted, m.gold_entity)
    }.toDF("id", "keys", "ns", "ctx", "gold")
    // census over the bare (key, id) relation: the keying pass alone,
    // without the context hashing the rows carry
    val hot = BlockPairs.hotKeys(keyed(mentions).groupBy("key").count(), cfg.maxBlock)
    BlockPairs.bucketed(rows, hot)
  }

  /** Block-size profile — the metrics surface for the skew invariant
    * (max block size after bucketing must be <= maxBlock).
    *
    * Integer-exact by construction (DuckDB-gated): p99 is the DISCRETE
    * 99th percentile — the smallest block size s such that >= ceil(0.99 *
    * n_blocks) blocks are <= s — computed over the tiny distinct-size
    * histogram (cardinality <= number of distinct block sizes) with a
    * bounded non-equi self-join, NOT a partition-less global window and
    * NOT percentile_approx (whose sketch boundaries no other engine
    * reproduces). */
  def blockProfile(mentions: Dataset[Mention]): DataFrame = {
    // ONE pass over the corpus-scale keyed relation: block sizes → the
    // distinct-size histogram, materialized once (lazy localCheckpoint)
    // so the downstream branches (totals, the cumulative self-join, p99)
    // reuse it. Without this the executed plan showed zero ReusedExchange
    // — the keying + groupBy chain (the only corpus-scale stage) ran once
    // per branch. The histogram is bounded by sqrt(2 * n_mentions)
    // distinct sizes — tiny at any corpus scale. localCheckpoint, not
    // persist(): checkpointed RDD blocks are reclaimed by the
    // ContextCleaner when the plan becomes unreachable, whereas a
    // cacheManager persist would pin one session-lifetime entry per
    // distinct mentions input with no release point in this
    // single-expression API.
    val g = keyed(mentions)
      .groupBy("key")
      .agg(count("*").as("block_size"))
      .groupBy("block_size")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val tot = g.agg(
      coalesce(sum(col("c")), lit(0L)).as("n_blocks"),
      max(col("block_size")).as("max_block"),
      sum(expr("block_size * (block_size - 1) div 2 * c")).as("naive_pairs"))
    val cum = g.as("g1")
      .join(g.as("g2"), col("g2.block_size") <= col("g1.block_size"))
      .groupBy(col("g1.block_size").as("bs"))
      .agg(sum(col("g2.c")).as("cc"))
    val p99 = cum.crossJoin(broadcast(tot.select(col("n_blocks").as("nb"))))
      .where(col("cc") >= expr("(99 * nb + 99) div 100"))
      .agg(min(col("bs")).as("p99_block"))
    tot.crossJoin(broadcast(p99))
      .select(col("n_blocks"), col("max_block"), col("p99_block"), col("naive_pairs"))
  }
}
