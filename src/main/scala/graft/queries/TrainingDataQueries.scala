package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.curate.{GopherFilter, SourceCap}
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Ann
import graft.text.TextAnalysis
import graft.util.SessionMemo

/** Training-data pipeline operators surfaced as driver queries (dedup
  * tiers, similarity search, text analysis, multimodal plumbing). All of
  * them are DuckDB-oracle-gated (hash-exact) since round 3 — the custom
  * hash pipelines are replayed in SQL (splitmix64 as staged 32-bit-limb
  * CTEs, MinHash/SimHash folds, Lloyd's k-means, FNV HUGEINT rolling
  * hash); semantics are additionally verified in DedupAnnSpec /
  * TextMultimodalPipelineSpec (planted-duplicate recall, brute-force
  * agreement, codec round-trips). */
object TrainingDataQueries {

  /** Shared catalog parameters, interpolated into BOTH the engine call
    * sites below and the DuckDB oracle SQL in [[AuxOracles]] (annRecallSql,
    * annIvfTopkSql, annLshTopkSql, annBruteTopkSql, taSourceCapSql) — one
    * source of truth, so a retune cannot silently desynchronize the gate
    * (the GopherFilter.Thresholds / Extract.DateRePattern rule). */
  private[graft] val AnnK = 5
  /** Raised 4 → 24 in round 6: the sf0.1 sweep (BASELINE.md, AnnSweep)
    * put recall@5 at 0.39 for nProbe=4 vs 0.90 for 24 at equal wall on
    * the synthetic (near-uniform — ANN's worst case) embeddings. The
    * probed FRACTION shrinks as the corpus grows (nLists ~ √n, nProbe
    * fixed), so 24 is a small-corpus-safe default, not a scan. */
  private[graft] val AnnNProbe = 24
  /** Query set = vec_id < AnnQueryMax (the catalog's fixed probe set). */
  private[graft] val AnnQueryMax = 20
  private[graft] val SourceCapN = 8
  /** Token n-gram size for the decontamination / duplication operators
    * (published pipelines use 13-grams on real web text; 8 keeps the
    * ~55-token synthetic docs from being gram-free). */
  private[graft] val DecontamN = 8
  /** The catalog's deterministic synthetic benchmark slice:
    * doc_id % DecontamEvalMod == DecontamEvalRes (~5%). Plain modulo, so
    * the oracle replays it without a hash pipeline. */
  private[graft] val DecontamEvalMod = 20L
  private[graft] val DecontamEvalRes = 7L
  /** ann_ivf_incr's vector split: vec_id % AnnIncrMod == 0 is the "new
    * crawl" batch (plain modulo so the oracle replays it without a hash
    * pipeline); the rest is the standing index the centroids froze on. */
  private[graft] val AnnIncrMod = 4L

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  // Single source of truth for the memoized MinHash pair-table parameters:
  // dd_minhash_pairs and dd_survivors consume the same table, and
  // Dedup.survivors REFUSES a pair table whose parameters drift from its
  // own (round-4 advice) — so both call sites read these constants.
  private val MhShingleK = 5
  private val MhNHashes = 64
  private val MhRowsPerBand = 8
  private val MhMinJaccard = 0.35

  /** MinHash-LSH near-dup candidates. The synthetic documents share a
    * 31-word vocabulary, so a moderate threshold yields a non-trivial
    * pair set. Session memo: dd_minhash_pairs and dd_survivors consume
    * the IDENTICAL (input, shingleK=5, nHashes=64, rowsPerBand=8,
    * minJaccard=0.35) pair set, and the signature computation dominates
    * both — one computation per session instead of two. The persisted
    * table is the small PAIR set, not the signatures — Dedup's internal
    * signature caches stay per-query (releaseSignatures discipline). */
  def ddMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.frame(spark, s"dd.minhashPairs|$dir") {
      Dedup.minhashPairs(docs(spark, dir), "doc_id", "text",
        shingleK = MhShingleK, nHashes = MhNHashes, rowsPerBand = MhRowsPerBand,
        minJaccard = MhMinJaccard)
    }

  def ddSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    // explicit cap (== the library default, Dedup.DefaultMaxBucket):
    // bounded task sizes are chosen over the exhaustive pigeonhole
    // guarantee; exhaustive bucket scans are opt-in via Int.MaxValue
    Dedup.simhashPairs(docs(spark, dir), "doc_id", "text", maxHamming = 8,
      maxBucket = Dedup.DefaultMaxBucket)

  /** Keep/drop decision table: exact + minhash tiers, transitive closure,
    * min-id survivor (the deliverable a training pipeline consumes).
    * Reuses the session's memoized minhash pair table. */
  def ddSurvivors(spark: SparkSession, dir: String): DataFrame =
    Dedup.survivors(docs(spark, dir), "doc_id", "text",
      shingleK = MhShingleK, nHashes = MhNHashes, rowsPerBand = MhRowsPerBand,
      minJaccard = MhMinJaccard,
      nearPairs = Some(Dedup.NearPairTable(ddMinhashPairs(spark, dir),
        MhShingleK, MhNHashes, MhRowsPerBand, MhMinJaccard, Dedup.DefaultMaxBucket)))

  /** Fused survivor table (round-6): exact + minhash + CONTAINMENT edges
    * in one transitive verdict, with containment victims labeled
    * "contained" (directional — the contained doc drops; its container
    * stays eligible to keep; the family representative is still the min
    * id, the convention every tier shares). Reuses BOTH session memos:
    * the minhash pair table and the sorted-token table behind
    * dd_containment_pairs. Oracle: the batch-survivors SQL extended with
    * the independently-gated dd_containment_pairs dump. */
  def ddSurvivorsFull(spark: SparkSession, dir: String): DataFrame =
    Dedup.survivors(docs(spark, dir), "doc_id", "text",
      shingleK = MhShingleK, nHashes = MhNHashes, rowsPerBand = MhRowsPerBand,
      minJaccard = MhMinJaccard,
      nearPairs = Some(Dedup.NearPairTable(ddMinhashPairs(spark, dir),
        MhShingleK, MhNHashes, MhRowsPerBand, MhMinJaccard, Dedup.DefaultMaxBucket)),
      containmentPairs = Some(Queries.ddContainmentPairs(spark, dir)))

  /** Fused curation pipeline (round-6 stretch): the order a
    * MassiveText-style pipeline applies its stages —
    *   1. Gopher quality filter (drop verdict "gopher"),
    *   2. dedup over the quality survivors (exact + near + containment;
    *      drop verdict "dedup"),
    *   3. per-source cap over the dedup keepers (drop verdict "cap"),
    * emitting ONE row per input doc with the first stage that dropped it
    * (or "keep"). Stage 2's near/containment evidence is the CORPUS-level
    * pair tables restricted to stage-1 survivors (the session memos — no
    * re-shingling; a pair between two quality-dropped docs can never
    * resurface downstream anyway), its exact groups are recomputed over
    * the survivor subset; stage 3 ranks only dedup keepers, so a capped
    * slot is never wasted on a doc an earlier stage already dropped.
    * Scale shape: three scans of the corpus-scale doc table (one per
    * stage's column pipeline), all pair work memoized, verdict assembly
    * via id-scale joins — no new shuffle class. Oracle: the same
    * composition over the independently-gated ta_gopher_filter /
    * dd_minhash_pairs / dd_containment_pairs dumps + the splitmix64 cap
    * replay. */
  def curatePipeline(spark: SparkSession, dir: String): DataFrame = {
    val dall = docs(spark, dir)
    // localCheckpoint: the stage-1 verdict table feeds EVERY later stage
    // (the survivor subset, both pair restrictions, the final verdict
    // join) and its plan is the n-gram repetition folds — the single
    // most expensive per-row scan in the engine. Without eager
    // truncation each downstream reference re-runs the folds (measured:
    // 65 s for this query at sf0.1; 6 s with the stage outputs pinned —
    // at deployment these ARE the materialized stage tables a pipeline
    // writes between stages). Node-scale rows (id + bool).
    val g = GopherFilter.gopherFilter(dall)
      .select(col("doc_id"), col("keep").as("gopher_keep"))
      .localCheckpoint(true)
    val s1 = g.where(col("gopher_keep")).select("doc_id")
    val docs1 = dall.join(s1, Seq("doc_id"), "left_semi")
    val aIds = s1.select(col("doc_id").as("id_a"))
    val bIds = s1.select(col("doc_id").as("id_b"))
    val pairs1 = ddMinhashPairs(spark, dir)
      .join(aIds, Seq("id_a"), "left_semi").join(bIds, Seq("id_b"), "left_semi")
    val cont1 = Queries.ddContainmentPairs(spark, dir)
      .join(s1.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(s1.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    // localCheckpoint: the stage-2 decision table feeds the cap subset
    // AND the verdict join (node-scale rows; see the stage-1 note)
    val surv = Dedup.survivors(docs1, "doc_id", "text",
      shingleK = MhShingleK, nHashes = MhNHashes, rowsPerBand = MhRowsPerBand,
      minJaccard = MhMinJaccard,
      nearPairs = Some(Dedup.NearPairTable(pairs1,
        MhShingleK, MhNHashes, MhRowsPerBand, MhMinJaccard, Dedup.DefaultMaxBucket)),
      containmentPairs = Some(cont1))
      .localCheckpoint(true)
    val s2 = surv.where(col("tier") === "keep").select(col("id").as("doc_id"))
    val cap = SourceCap.sourceCap(
      dall.join(s2, Seq("doc_id"), "left_semi"), n = SourceCapN)
      .select(col("doc_id"), col("kept").as("cap_kept"))
    dall.select("doc_id")
      .join(g, Seq("doc_id"), "left")
      .join(surv.select(col("id").as("doc_id"),
        (col("tier") === "keep").as("dedup_keep")), Seq("doc_id"), "left")
      .join(cap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // NULL keep (null text / null n_chars) must drop as 'gopher',
        // matching the oracle's `keep IS NOT TRUE` — an un-coalesced NOT
        // would skip the branch and emit a 'keep' that no downstream
        // stage ever ranked
        when(!coalesce(col("gopher_keep"), lit(false)), lit("gopher"))
          .when(!col("dedup_keep"), lit("dedup"))
          .when(!col("cap_kept"), lit("cap"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** The 5-stage fused pipeline (round-6 second wave): the order a real
    * training-data pipeline applies its curation —
    *   0. benchmark docs excluded outright (verdict "eval" — they are
    *      the reference set, never training data),
    *   1. Gopher quality filter ("gopher"),
    *   2. benchmark DECONTAMINATION ("decontam" — dropped BEFORE dedup,
    *      so a contaminated doc can never win a duplicate family and
    *      take the whole family down with it),
    *   3. dedup over the remaining docs (exact + near + containment,
    *      memoized pair tables restricted; "dedup"),
    *   4. per-source cap over the keepers ("cap"),
    * else "keep". The contamination flag is per-doc vs the eval gram
    * set (independent of other training docs), so restricting it to
    * stage-2 survivors is composition-safe. Oracle: the curate_pipeline
    * composition extended with the independently-gated dc_decontam
    * dump. */
  def curatePipelineFull(spark: SparkSession, dir: String): DataFrame = {
    val dall = docs(spark, dir)
    val isEval = pmod(col("doc_id"), lit(DecontamEvalMod)) === lit(DecontamEvalRes)
    val g = GopherFilter.gopherFilter(dall)
      .select(col("doc_id"), col("keep").as("gopher_keep"))
      .localCheckpoint(true)
    // (doc_id, contaminated) for every NON-eval doc — the dc_decontam
    // relation (per-doc predicate; restriction-safe)
    val dc = dcDecontam(spark, dir)
      .select(col("doc_id"), col("contaminated")).localCheckpoint(true)
    val s1 = dall.where(!isEval).select("doc_id")
      .join(g, Seq("doc_id")).where(col("gopher_keep"))
      .join(dc, Seq("doc_id")).where(!col("contaminated"))
      .select("doc_id")
    val docs1 = dall.join(s1, Seq("doc_id"), "left_semi")
    val aIds = s1.select(col("doc_id").as("id_a"))
    val bIds = s1.select(col("doc_id").as("id_b"))
    val pairs1 = ddMinhashPairs(spark, dir)
      .join(aIds, Seq("id_a"), "left_semi").join(bIds, Seq("id_b"), "left_semi")
    val cont1 = Queries.ddContainmentPairs(spark, dir)
      .join(s1.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(s1.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    val surv = Dedup.survivors(docs1, "doc_id", "text",
      shingleK = MhShingleK, nHashes = MhNHashes, rowsPerBand = MhRowsPerBand,
      minJaccard = MhMinJaccard,
      nearPairs = Some(Dedup.NearPairTable(pairs1,
        MhShingleK, MhNHashes, MhRowsPerBand, MhMinJaccard, Dedup.DefaultMaxBucket)),
      containmentPairs = Some(cont1))
      .localCheckpoint(true)
    val s2 = surv.where(col("tier") === "keep").select(col("id").as("doc_id"))
    val cap = SourceCap.sourceCap(
      dall.join(s2, Seq("doc_id"), "left_semi"), n = SourceCapN)
      .select(col("doc_id"), col("kept").as("cap_kept"))
    dall.select("doc_id")
      .join(g, Seq("doc_id"), "left")
      .join(dc, Seq("doc_id"), "left")
      .join(surv.select(col("id").as("doc_id"),
        (col("tier") === "keep").as("dedup_keep")), Seq("doc_id"), "left")
      .join(cap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(isEval, lit("eval"))
          // the curatePipeline NULL-keep rule (oracle: keep IS NOT TRUE)
          .when(!coalesce(col("gopher_keep"), lit(false)), lit("gopher"))
          .when(col("contaminated"), lit("decontam"))
          .when(!col("dedup_keep"), lit("dedup"))
          .when(!col("cap_kept"), lit("cap"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** Character-fraction Gopher tier (round-6): the published rule's
    * native unit — see [[GopherFilter.gopherFilterCharFrac]]. */
  def taGopherCharfrac(spark: SparkSession, dir: String): DataFrame =
    GopherFilter.gopherFilterCharFrac(docs(spark, dir))

  /** The 1/4 "new crawl" split of the documents table (xxhash64 of the
    * doc id — partition-invariant); its complement is the standing corpus
    * whose dedup index is memoized in [[survivorIndex]]. */
  private[graft] def incrIsNewDoc =
    pmod(xxhash64(col("doc_id")), lit(4)) === 0

  /** Session memo of the standing dedup index (hashed / signatures /
    * exact groups / clusters — the state a deployment keeps between crawl
    * increments; the bootstrap build is one-time setup, not part of the
    * measured fold). */
  private[graft] def survivorIndex(spark: SparkSession, dir: String): Dedup.SurvivorIndex =
    SessionMemo.entry(spark, s"dd.survivorIndex|$dir")(
      Dedup.buildSurvivorIndex(
        docs(spark, dir).where(!incrIsNewDoc), "doc_id", "text",
        shingleK = MhShingleK, nHashes = MhNHashes, rowsPerBand = MhRowsPerBand,
        minJaccard = MhMinJaccard, maxBucket = Dedup.DefaultMaxBucket,
        cache = _.persist(StorageLevel.MEMORY_AND_DISK)))(_.frames)

  /** Incremental survivors (the training-data refresh twin of
    * er_clusters_incr): fold the 1/4 "new crawl" docs into the standing
    * dedup index and emit the refreshed decision table. The oracle is
    * the SAME batch-survivors SQL over the full table, so the gate
    * proves incremental == batch exactly. */
  def ddSurvivorsIncr(spark: SparkSession, dir: String): DataFrame =
    Dedup.survivorsIncrementalDelta(
      survivorIndex(spark, dir),
      docs(spark, dir).where(incrIsNewDoc), "doc_id", "text").full

  /** Session memo of the CONTAINMENT-AWARE standing index. */
  private[graft] def fullSurvivorIndex(spark: SparkSession, dir: String): Dedup.FullSurvivorIndex =
    SessionMemo.entry(spark, s"dd.fullSurvivorIndex|$dir")(
      Dedup.buildFullSurvivorIndex(
        docs(spark, dir).where(!incrIsNewDoc), "doc_id", "text",
        shingleK = MhShingleK, nHashes = MhNHashes, rowsPerBand = MhRowsPerBand,
        minJaccard = MhMinJaccard, maxBucket = Dedup.DefaultMaxBucket,
        cache = _.persist(StorageLevel.MEMORY_AND_DISK),
        // one physical LSH index per session: reuse the core memo's
        // at-rest frames, recompute only the containment-aware clusters
        reuseCore = Some(survivorIndex(spark, dir))))(_.frames)

  /** Containment-aware incremental survivors (round-6): fold the 1/4
    * "new crawl" docs into the standing index MAINTAINING ALL THREE edge
    * tiers — exact, minhash-near, and asymmetric containment (the tier
    * dd_survivors_incr leaves batch-only). The oracle is the SAME
    * batch dd_survivors_full SQL over the full documents table + the
    * full containment dump, so the gate proves incremental == batch for
    * the fused verdict exactly. */
  def ddSurvivorsFullIncr(spark: SparkSession, dir: String): DataFrame =
    Dedup.survivorsFullIncrementalDelta(
      fullSurvivorIndex(spark, dir),
      docs(spark, dir).where(incrIsNewDoc), "doc_id", "text").full

  def ddEmbeddingDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingDupPairs(embs(spark, dir), "vec_id", "embedding",
      minCosine = 0.25, nBits = 16, bandBits = 4)

  /** Session memo of the three ANN top-k tables: each ann_*_topk query
    * dumps its own table AND ann_recall consumes all three — without the
    * memo a catalog pass pays every ANN pipeline twice. The persisted
    * tables are queries×k rows (tiny); the heavy intermediates stay
    * per-query. */
  private def annTopk(spark: SparkSession, dir: String, which: String)(
      build: => DataFrame): DataFrame =
    SessionMemo.frame(spark, s"ann.topk|$which|$dir")(build)

  def annBruteTopk(spark: SparkSession, dir: String): DataFrame =
    annTopk(spark, dir, "brute") {
      val e = embs(spark, dir)
      Ann.bruteForceTopK(e, e.where(col("vec_id") < AnnQueryMax), "vec_id", "embedding", k = AnnK)
        .drop("cosine") // rank list only: float formatting stays out of outputs
    }

  def annLshTopk(spark: SparkSession, dir: String): DataFrame =
    annTopk(spark, dir, "lsh") {
      val e = embs(spark, dir)
      Ann.lshTopK(spark, e, e.where(col("vec_id") < AnnQueryMax), "vec_id", "embedding", k = AnnK,
        nBits = 16, bandBits = 4).drop("cosine")
    }

  def annIvfTopk(spark: SparkSession, dir: String): DataFrame =
    annTopk(spark, dir, "ivf") {
      val e = embs(spark, dir)
      // nLists auto-derived (~sqrt(corpus)) so the index keeps cell
      // populations bounded at any sf (Ann.autoNLists doc)
      Ann.ivfTopK(spark, e, e.where(col("vec_id") < AnnQueryMax), "vec_id", "embedding", k = AnnK,
        nProbe = AnnNProbe).drop("cosine")
    }

  /** Recall@k of the approximate ANN tiers against the exact brute-force
    * floor: per (method, query) the intersection size of the approximate
    * and exact top-k neighbor sets, as exact integers (n_matched of k —
    * callers derive recall = n_matched/k). The index-quality metric a
    * pipeline watches when it trades the exact floor for the bucketed
    * tiers. Oracle: DuckDB recomputes the intersection from the three
    * dumped top-k tables — non-circular because each input is itself
    * independently oracle-gated (signature/Lloyd replays). Scale: the
    * top-k tables are queries×k rows; everything here is dimension-scale. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val brute = annBruteTopk(spark, dir)
    def tagged(approx: DataFrame, method: String): DataFrame =
      Ann.recallCounts(approx, brute, k = AnnK)
        .select(lit(method).as("method"), col("query_id"), col("n_matched"), col("k"))
    tagged(annLshTopk(spark, dir), "lsh")
      .unionByName(tagged(annIvfTopk(spark, dir), "ivf"))
  }

  /** Session memo of the standing IVF index (frozen centroids trained on
    * the standing 3/4 slice). */
  private[graft] def ivfIndex(spark: SparkSession, dir: String): Ann.IvfIndex =
    SessionMemo.entry(spark, s"ann.ivfIndex|$dir")(
      Ann.buildIvfIndex(spark,
        embs(spark, dir).where(pmod(col("vec_id"), lit(AnnIncrMod)) =!= 0),
        "vec_id", "embedding",
        cache = _.persist(StorageLevel.MEMORY_AND_DISK)))(i => Seq(i.assigned))

  /** Incremental IVF maintenance (round-6): append the 1/4 "new crawl"
    * vectors to the standing index (map-side assignment against the
    * FROZEN centroids — no retraining) and search the catalog query set
    * over the union. Oracle: the IVF replay with its training CTEs
    * restricted to the standing slice — incremental == frozen-centroid
    * batch exactly. */
  def annIvfIncr(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val idx = Ann.ivfAppend(spark, ivfIndex(spark, dir),
      e.where(pmod(col("vec_id"), lit(AnnIncrMod)) === 0), "vec_id", "embedding")
    Ann.ivfSearchIndex(spark, idx, e.where(col("vec_id") < AnnQueryMax),
      "vec_id", "embedding", k = AnnK, nProbe = AnnNProbe).drop("cosine")
  }

  def taLangid(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.langIdUdf(col("text")).as("predicted_lang"))

  def taQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.withQuality(docs(spark, dir), "text")
      .select("doc_id", "n_tokens", "quality")

  def taTokenCounts(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))

  /** Gopher-style repetition counters per document (exact integers — see
    * TextAnalysis.repetitionColumns); the oracle re-derives every counter
    * relationally in DuckDB (unnest n-grams → group counts). */
  def taRepetition(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), col("text"))
    TextAnalysis.repetitionColumns(col("text"))
      .foldLeft(base) { case (d, (name, c)) => d.withColumn(name, c) }
      .drop("text")
  }

  /** Gopher-style quality-filter decision table: per-doc keep/drop from
    * length + mean-word-length + repetition rules, integer-exact — see
    * [[graft.curate.GopherFilter.gopherFilter]]. */
  def taGopherFilter(spark: SparkSession, dir: String): DataFrame =
    GopherFilter.gopherFilter(docs(spark, dir))

  /** C4/RefinedWeb-style per-source document cap: keep the 8
    * hash-smallest documents of each source (all of them when a source
    * has ≤ 8). Threshold-based, window-free plan — see
    * [[graft.curate.SourceCap.sourceCap]] for the scale shape. */
  def taSourceCap(spark: SparkSession, dir: String): DataFrame =
    SourceCap.sourceCap(docs(spark, dir), n = SourceCapN)

  /** Benchmark decontamination (round-6): training docs sharing any
    * token 8-gram with the synthetic benchmark slice — see
    * [[graft.curate.Decontam.decontaminate]]. */
  def dcDecontam(spark: SparkSession, dir: String): DataFrame =
    graft.curate.Decontam.decontaminate(docs(spark, dir), "doc_id", "text",
      isEval = pmod(col("doc_id"), lit(DecontamEvalMod)) === lit(DecontamEvalRes),
      n = DecontamN)

  /** Span-level decontamination (round-6): merged contaminated token
    * windows per training doc — see
    * [[graft.curate.Decontam.contaminatedSpans]]. */
  def dcDecontamSpans(spark: SparkSession, dir: String): DataFrame =
    graft.curate.Decontam.contaminatedSpans(docs(spark, dir), "doc_id", "text",
      isEval = pmod(col("doc_id"), lit(DecontamEvalMod)) === lit(DecontamEvalRes),
      n = DecontamN)

  /** Inter-document n-gram duplication stats (round-6) — see
    * [[graft.curate.Decontam.dupNgramStats]]. */
  def dcDupNgrams(spark: SparkSession, dir: String): DataFrame =
    graft.curate.Decontam.dupNgramStats(docs(spark, dir), "doc_id", "text",
      n = DecontamN)

  /** Session memo of the standing n-gram duplication index. */
  private[graft] def dupNgramIndex(spark: SparkSession, dir: String): graft.curate.Decontam.DupNgramIndex =
    SessionMemo.entry(spark, s"dc.dupNgramIndex|$dir")(
      graft.curate.Decontam.buildDupNgramIndex(
        docs(spark, dir).where(!incrIsNewDoc), "doc_id", "text", n = DecontamN,
        cache = _.persist(StorageLevel.MEMORY_AND_DISK)))(_.frames)

  /** Incremental dup-ngram maintenance (round-6): fold the 1/4 "new
    * crawl" docs into the standing gram-frequency index. Oracle = the
    * batch dc_dup_ngrams SQL over the full table (incremental == batch
    * exactly — dup flips are monotone). */
  def dcDupNgramsIncr(spark: SparkSession, dir: String): DataFrame =
    graft.curate.Decontam.dupNgramStatsIncremental(
      dupNgramIndex(spark, dir),
      docs(spark, dir).where(incrIsNewDoc), "doc_id", "text")

  def taFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprintUdf(col("text")).as("fingerprint"))

  private[graft] def mediaCountFor(dir: String): Long =
    ErQueries.pageCountFor(dir) / 2

  def mmMediaStats(spark: SparkSession, dir: String): DataFrame =
    Multimodal.mediaStats(
      Multimodal.decodeAndFeatures(Multimodal.syntheticMedia(spark, mediaCountFor(dir))))
      // ppm-pinned intensity: a double avg is summed in partition order in
      // Spark but file order in DuckDB — 1-ulp drift that the hash gate
      // would flag as a false failure; the library surface keeps the double
      .withColumn("avg_intensity_ppm",
        round(col("avg_intensity") * 1e6).cast("bigint"))
      .drop("avg_intensity")

  def mmFrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.syntheticMedia(spark, mediaCountFor(dir)), stride = 2)
      .drop("frame")
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"), max(col("frame_bytes")).as("frame_bytes"))
}
