package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AuxOracles, ErQueries, EvalQueries, Queries, Queries2, Queries3, TrainingDataQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory) to executable
  * DataFrame builders over the driver's parquet tables at `dir`; every
  * query except three has a DuckDB oracle in `oracleSql` with matching
  * column names/aliases (engine-generated inputs are dumped via
  * `auxDumps` and re-derived by the oracle SQL through the `{OUT}`
  * anchor). Since round 5 EVERY query is oracle-gated: er_extract /
  * er_mentions via the span-granularity aux_extract_* dumps (round 4),
  * and eval_cases via a hybrid derivation — the recursion-bound pieces
  * (word-boundary expansion; factor, which collapses to 1 on the flat
  * synthetic label forest) ride golden-tested aux dumps while the span
  * join, decision tables, mention typing, and error labeling are
  * re-derived in DuckDB from independently-gated upstream dumps.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: end-to-end ER pairwise evaluation over the
    * synthetic web-pages corpus (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    ErQueries.erPairwiseEval(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // relational / aggregation operators (oracle-checked)
    "q1_agg_pricing" -> (Queries.q1AggPricing(_, _)),
    "q2_region_revenue" -> (Queries.q2RegionRevenue(_, _)),
    "q3_top_customers" -> (Queries.q3TopCustomers(_, _)),
    "q4_orders_with_items" -> (Queries.q4OrdersWithItems(_, _)),
    "q5_customers_no_orders" -> (Queries.q5CustomersNoOrders(_, _)),
    "q6_distinct_parts" -> (Queries.q6DistinctParts(_, _)),
    "q7_first_event" -> (Queries.q7FirstEvent(_, _)),
    "q8_unigrams" -> (Queries.q8Unigrams(_, _)),
    "q9_doc_token_stats" -> (Queries.q9DocTokenStats(_, _)),
    "q10_exact_dup_docs" -> (Queries.q10ExactDupDocs(_, _)),
    "q11_quality_counters" -> (Queries.q11QualityCounters(_, _)),
    "q12_lang_dist" -> (Queries.q12LangDist(_, _)),
    "q13_sessions" -> (Queries.q13Sessions(_, _)),
    "q14_orders_daily" -> (Queries.q14OrdersDaily(_, _)),
    "q15_jaccard_pairs" -> (Queries.q15JaccardPairs(_, _)),
    "dd_containment_pairs" -> (Queries.ddContainmentPairs(_, _)),
    "q16_revenue_by_priority" -> (Queries2.q16RevenueByPriority(_, _)),
    "q17_rollup_orders" -> (Queries2.q17RollupOrders(_, _)),
    "q18_part_strings" -> (Queries2.q18PartStrings(_, _)),
    "q19_event_pivot" -> (Queries2.q19EventPivot(_, _)),
    "q20_nation_set_ops" -> (Queries2.q20NationSetOps(_, _)),
    "q21_ship_months" -> (Queries2.q21ShipMonths(_, _)),
    "q22_popular_parts" -> (Queries2.q22PopularParts(_, _)),
    "q23_top_docs" -> (Queries2.q23TopDocs(_, _)),
    "q24_moving_sum" -> (Queries3.q24MovingSum(_, _)),
    "q25_cube_orders" -> (Queries3.q25CubeOrders(_, _)),
    "q26_order_gaps" -> (Queries3.q26OrderGaps(_, _)),
    "q27_top_part_per_year" -> (Queries3.q27TopPartPerYear(_, _)),
    "q28_brand_csv" -> (Queries3.q28BrandCsv(_, _)),
    "q29_balance_quartiles" -> (Queries3.q29BalanceQuartiles(_, _)),
    "q30_nation_customer_facets" -> (Queries3.q30NationCustomerFacets(_, _)),
    // ER pipeline over the synthetic pages table (all oracle-gated via
    // aux dumps)
    "er_extract" -> (ErQueries.erExtract(_, _)),
    "er_mentions" -> (ErQueries.erMentions(_, _)),
    "er_block_profile" -> (ErQueries.erBlockProfile(_, _)),
    "er_scored_pairs" -> (ErQueries.erScoredPairs(_, _)),
    "er_clusters" -> (ErQueries.erClusters(_, _)),
    "er_clusters_incr" -> (ErQueries.erClustersIncr(_, _)),
    "er_pairwise_eval" -> (ErQueries.erPairwiseEval(_, _)),
    // training-data pipeline operators (all oracle-gated; semantics also in specs)
    "dd_minhash_pairs" -> (TrainingDataQueries.ddMinhashPairs(_, _)),
    "dd_simhash_pairs" -> (TrainingDataQueries.ddSimhashPairs(_, _)),
    "dd_embedding_dups" -> (TrainingDataQueries.ddEmbeddingDups(_, _)),
    "dd_survivors" -> (TrainingDataQueries.ddSurvivors(_, _)),
    "dd_survivors_full" -> (TrainingDataQueries.ddSurvivorsFull(_, _)),
    "dd_survivors_incr" -> (TrainingDataQueries.ddSurvivorsIncr(_, _)),
    "dd_survivors_full_incr" -> (TrainingDataQueries.ddSurvivorsFullIncr(_, _)),
    "dc_decontam" -> (TrainingDataQueries.dcDecontam(_, _)),
    "dc_decontam_spans" -> (TrainingDataQueries.dcDecontamSpans(_, _)),
    "dc_dup_ngrams" -> (TrainingDataQueries.dcDupNgrams(_, _)),
    "dc_dup_ngrams_incr" -> (TrainingDataQueries.dcDupNgramsIncr(_, _)),
    "ann_brute_topk" -> (TrainingDataQueries.annBruteTopk(_, _)),
    "ann_lsh_topk" -> (TrainingDataQueries.annLshTopk(_, _)),
    "ann_ivf_topk" -> (TrainingDataQueries.annIvfTopk(_, _)),
    "ann_ivf_incr" -> (TrainingDataQueries.annIvfIncr(_, _)),
    "ann_recall" -> (TrainingDataQueries.annRecall(_, _)),
    "ta_langid" -> (TrainingDataQueries.taLangid(_, _)),
    "ta_quality" -> (TrainingDataQueries.taQuality(_, _)),
    "ta_repetition" -> (TrainingDataQueries.taRepetition(_, _)),
    "ta_source_cap" -> (TrainingDataQueries.taSourceCap(_, _)),
    "ta_gopher_filter" -> (TrainingDataQueries.taGopherFilter(_, _)),
    "ta_gopher_charfrac" -> (TrainingDataQueries.taGopherCharfrac(_, _)),
    "curate_pipeline" -> (TrainingDataQueries.curatePipeline(_, _)),
    "curate_pipeline_full" -> (TrainingDataQueries.curatePipelineFull(_, _)),
    "ta_token_counts" -> (TrainingDataQueries.taTokenCounts(_, _)),
    "ta_fingerprint" -> (TrainingDataQueries.taFingerprint(_, _)),
    "mm_media_stats" -> (TrainingDataQueries.mmMediaStats(_, _)),
    "mm_frame_sample" -> (TrainingDataQueries.mmFrameSample(_, _)),
    // KB-build jobs + ELEVANT-semantics evaluation (all oracle-gated;
    // eval_cases via the hybrid factor/word-boundary-pinned derivation)
    "kb_link_freq" -> (EvalQueries.kbLinkFreq(_, _)),
    "kb_top_candidates" -> (EvalQueries.kbTopCandidates(_, _)),
    "kb_alias_probs" -> (EvalQueries.kbAliasProbs(_, _)),
    "eval_oracle_counts" -> (EvalQueries.evalOracleCounts(_, _)),
    "eval_baseline_counts" -> (EvalQueries.evalBaselineCounts(_, _)),
    "eval_cases" -> (EvalQueries.evalCases(_, _)),
  )

  /** Deterministic intermediate tables dumped by Verify NEXT TO the query
    * results (not driver queries themselves). They are the parquet INPUTS
    * that let DuckDB gate queries whose inputs are engine-generated: the
    * upstream stage (extraction / case generation — golden-tested against
    * the reference) is dumped once, and the oracle SQL recomputes the
    * query's aggregation/join/window logic from it in a second engine.
    * `{OUT}` in oracleSql resolves to the dump directory at Verify time. */
  def auxDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "aux_hyperlinks" -> ((s, d) =>
      graft.kb.KbBuild.hyperlinks(ErQueries.pages(s, d)).select("norm_text", "target")),
    // span-granularity extraction dumps: let DuckDB re-derive er_extract's
    // counts and er_mentions' surface/normalization/mention_id columns
    "aux_extract_text" -> (ErQueries.auxExtractText(_, _)),
    "aux_extract_links" -> (ErQueries.auxExtractLinks(_, _)),
    "aux_extract_synonyms" -> (ErQueries.auxExtractSynonyms(_, _)),
    "aux_extract_sections" -> (ErQueries.auxExtractSections(_, _)),
    "aux_block_keys" -> ((s, d) =>
      graft.er.Blocking.keyed(ErQueries.mentions(s, d))),
    "aux_oracle_counter_rows" -> (EvalQueries.auxOracleCounterRows(_, _)),
    "aux_label_spans" -> (EvalQueries.auxLabelSpans(_, _)),
    "aux_baseline_counter_rows" -> (EvalQueries.auxBaselineCounterRows(_, _)),
    // sub-bucketed blocking relation with scoring attributes: lets DuckDB
    // replay the pair self-join + dedup + jaccard/score/is_match/lev of
    // er_scored_pairs (jw is the one engine-joined scalar — golden-tested
    // against the reference separately). The ctx hash array travels as a
    // comma-joined string: the driver's check harness pandas-sorts every
    // dump, and an array<bigint> cell is unhashable there (round-3 verdict
    // item 1); the oracle SQL splits it back into a BIGINT list. The
    // bkeys list column is dropped for the same reason.
    "aux_keyed" -> ((s, d) =>
      graft.er.Blocking.keyedWithAttrs(ErQueries.mentions(s, d), graft.er.Blocking.Config())
        .drop("bkeys")
        .withColumn("ctx", org.apache.spark.sql.functions.concat_ws(",",
          org.apache.spark.sql.functions.col("ctx")))),
    // decoded media features / sampled frames pre-aggregation
    "aux_media_decoded" -> ((s, d) =>
      graft.multimodal.Multimodal.decodeAndFeatures(
        graft.multimodal.Multimodal.syntheticMedia(s, TrainingDataQueries.mediaCountFor(d))).toDF()),
    "aux_media_frames" -> ((s, d) =>
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.syntheticMedia(s, TrainingDataQueries.mediaCountFor(d)), stride = 2)
        .drop("frame")),
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg_pricing" -> Queries.q1Sql,
    "q2_region_revenue" -> Queries.q2Sql,
    "q3_top_customers" -> Queries.q3Sql,
    "q4_orders_with_items" -> Queries.q4Sql,
    "q5_customers_no_orders" -> Queries.q5Sql,
    "q6_distinct_parts" -> Queries.q6Sql,
    "q7_first_event" -> Queries.q7Sql,
    "q8_unigrams" -> Queries.q8Sql,
    "q9_doc_token_stats" -> Queries.q9Sql,
    "q10_exact_dup_docs" -> Queries.q10Sql,
    "q11_quality_counters" -> Queries.q11Sql,
    "q12_lang_dist" -> Queries.q12Sql,
    "q13_sessions" -> Queries.q13Sql,
    "q14_orders_daily" -> Queries.q14Sql,
    "q15_jaccard_pairs" -> Queries.q15Sql,
    "dd_containment_pairs" -> Queries.ddContainmentSql,
    "q16_revenue_by_priority" -> Queries2.q16Sql,
    "q17_rollup_orders" -> Queries2.q17Sql,
    "q18_part_strings" -> Queries2.q18Sql,
    "q19_event_pivot" -> Queries2.q19Sql,
    "q20_nation_set_ops" -> Queries2.q20Sql,
    "q21_ship_months" -> Queries2.q21Sql,
    "q22_popular_parts" -> Queries2.q22Sql,
    "q23_top_docs" -> Queries2.q23Sql,
    "q24_moving_sum" -> Queries3.q24Sql,
    "q25_cube_orders" -> Queries3.q25Sql,
    "q26_order_gaps" -> Queries3.q26Sql,
    "q27_top_part_per_year" -> Queries3.q27Sql,
    "q28_brand_csv" -> Queries3.q28Sql,
    "q29_balance_quartiles" -> Queries3.q29Sql,
    "q30_nation_customer_facets" -> Queries3.q30Sql,
    // engine-generated-input queries, gated via Verify's aux dumps
    // (`{OUT}` resolves to the dump dir) or full DuckDB re-expression
    "kb_link_freq" -> AuxOracles.kbLinkFreqSql,
    "kb_top_candidates" -> AuxOracles.kbTopCandidatesSql,
    "kb_alias_probs" -> AuxOracles.kbAliasProbsSql,
    "eval_oracle_counts" -> AuxOracles.evalOracleCountsSql,
    "eval_baseline_counts" -> AuxOracles.evalBaselineCountsSql,
    "eval_cases" -> AuxOracles.evalCasesSql,
    "er_block_profile" -> AuxOracles.erBlockProfileSql,
    "er_extract" -> AuxOracles.erExtractSql,
    "er_mentions" -> AuxOracles.erMentionsSql,
    "ta_token_counts" -> AuxOracles.taTokenCountsSql,
    "ta_fingerprint" -> AuxOracles.taFingerprintSql,
    "ta_langid" -> AuxOracles.taLangidSql,
    "ta_quality" -> AuxOracles.taQualitySql,
    "ann_brute_topk" -> AuxOracles.annBruteTopkSql,
    "er_scored_pairs" -> AuxOracles.erScoredPairsSql,
    "er_pairwise_eval" -> AuxOracles.erPairwiseEvalSql,
    "er_clusters" -> AuxOracles.erClustersSql,
    // incremental maintenance must be EXACT: the oracle replays batch CC
    // over the full edge union, so equality here proves the contracted
    // incremental path merges precisely the same components
    "er_clusters_incr" -> AuxOracles.erClustersSql,
    "ta_repetition" -> AuxOracles.taRepetitionSql,
    "ta_source_cap" -> AuxOracles.taSourceCapSql,
    "ann_recall" -> AuxOracles.annRecallSql,
    "ta_gopher_filter" -> AuxOracles.taGopherFilterSql,
    "ta_gopher_charfrac" -> AuxOracles.taGopherCharfracSql,
    // fused pipeline + fused survivors: composition oracles over
    // independently-gated dumps (the ann_recall non-circularity pattern)
    "curate_pipeline" -> AuxOracles.curatePipelineSql,
    "curate_pipeline_full" -> AuxOracles.curatePipelineFullSql,
    "dd_survivors" -> AuxOracles.ddSurvivorsSql,
    "dd_survivors_full" -> AuxOracles.ddSurvivorsFullSql,
    // incremental dedup maintenance must be EXACT: the oracle is the
    // batch-survivors SQL over the FULL documents table, so equality
    // proves the fold reproduces batch dedup over the union
    "dd_survivors_incr" -> AuxOracles.ddSurvivorsSql,
    // …and its containment-aware twin against the batch FUSED oracle
    "dd_survivors_full_incr" -> AuxOracles.ddSurvivorsFullSql,
    "dc_decontam" -> AuxOracles.dcDecontamSql,
    "dc_decontam_spans" -> AuxOracles.dcDecontamSpansSql,
    "dc_dup_ngrams" -> AuxOracles.dcDupNgramsSql,
    // the incremental fold against the SAME batch SQL over the full
    // table (the dd_survivors_incr equality-gate pattern)
    "dc_dup_ngrams_incr" -> AuxOracles.dcDupNgramsSql,
    "dd_embedding_dups" -> AuxOracles.ddEmbeddingDupsSql,
    "ann_ivf_topk" -> AuxOracles.annIvfTopkSql,
    "ann_ivf_incr" -> AuxOracles.annIvfIncrSql,
    "dd_minhash_pairs" -> AuxOracles.ddMinhashPairsSql,
    "dd_simhash_pairs" -> AuxOracles.ddSimhashPairsSql,
    "ann_lsh_topk" -> AuxOracles.annLshTopkSql,
    "mm_media_stats" -> AuxOracles.mmMediaStatsSql,
    "mm_frame_sample" -> AuxOracles.mmFrameSampleSql,
  )
}
