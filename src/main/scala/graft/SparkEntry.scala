package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators.{CoreQueries, EventQueries, ExtraQueries}
import graft.llmops.{Cluster, Curation, Dedup, Linkage, Multimodal, Retrieval, Similarity, TextOps, Unigram, WordPiece}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry maps one operator family of SURVEY.md §2 (or one of the
  * mandated training-data-pipeline extensions) to a runnable query over
  * the driver testdata; [[OracleSql]] carries the DuckDB mirror of each.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // relational operator suite (SURVEY §2.1: O1-O15, O22)
    "q1_agg" -> (CoreQueries.q1Agg _),
    "q2_filter_project" -> (CoreQueries.q2FilterProject _),
    "q3_join_agg" -> (CoreQueries.q3JoinAgg _),
    "q4_topk" -> (CoreQueries.q4TopK _),
    "q5_distinct" -> (CoreQueries.q5Distinct _),
    "q6_window_topk" -> (CoreQueries.q6WindowTopPerKey _),
    "q7_percentile" -> (CoreQueries.q7Percentile _),
    "q8_union_dedup" -> (CoreQueries.q8UnionDedup _),
    "q9_events_json" -> (CoreQueries.q9EventsJson _),
    "q10_semijoin" -> (CoreQueries.q10SemiJoin _),
    "q43_antijoin" -> (CoreQueries.q43AntiJoin _),
    // reference-shaped operators (O17-O21, A1-A3, §3.2 pipeline)
    "q11_xmatch_spatial" -> (ExtraQueries.q11XmatchSpatial _),
    "q12_classify_cascade" -> (ExtraQueries.q12ClassifyCascade _),
    "q13_array_ops" -> (ExtraQueries.q13ArrayOps _),
    "q14_anomaly_topk" -> (ExtraQueries.q14AnomalyTopK _),
    // text analysis
    "q15_text_stats" -> (TextOps.qTextStats _),
    "q16_corpus_profile" -> (TextOps.qCorpusProfile _),
    "q17_lang_id" -> (TextOps.qLangId _),
    // similarity search
    "q18_vector_stats" -> (Similarity.qVectorStats _),
    "q19_knn_brute" -> (Similarity.qKnnBrute _),
    "q20_label_centroids" -> (Similarity.qLabelCentroids _),
    "q21_ann_lsh" -> (Similarity.qAnnLshPairs _),
    "q27_ivf_knn" -> (Similarity.qIvfKnn _),
    "q47_quantize_int8" -> (Similarity.qQuantizeInt8 _),
    // deduplication
    "q22_dedup_exact" -> (Dedup.qDedupExact _),
    "q23_neardup_minhash" -> (Dedup.qNearDupMinhash _),
    "q24_neardup_simhash" -> (Dedup.qNearDupSimhash _),
    "q25_jaccard_pairs" -> (Dedup.qJaccardWithinSource _),
    "q28_dedup_embedding" -> (Dedup.qDedupEmbedding _),
    "q46_dedup_increment" -> (Dedup.qDedupIncrement _),
    "q49_containment" -> (Dedup.qContainmentPairs _),
    "q29_fingerprint_winnow" -> (TextOps.qFingerprintWinnow _),
    // corpus curation (quota sampling, deterministic splits,
    // train/eval decontamination)
    "q30_quota_sample" -> (Curation.qQuotaSample _),
    "q31_hash_split" -> (Curation.qHashSplit _),
    "q32_decontaminate" -> ((s: SparkSession, d: String) =>
      Curation.qDecontaminate(s, d)),
    // near-dup graph clustering (pairs → canonical components)
    "q33_dedup_clusters" -> (Cluster.qDedupClusters _),
    // quality / repetition / vocabulary text analysis
    "q34_quality_filter" -> (TextOps.qQualityFilter _),
    "q36_repetition" -> (TextOps.qRepetition _),
    "q37_top_terms" -> (TextOps.qTopTerms _),
    // temporal event operators (as-of join, interval join, sessionization)
    "q35_asof_attribution" -> (EventQueries.q35AsofAttribution _),
    "q44_interval_join" -> ((s: SparkSession, d: String) =>
      EventQueries.q44IntervalJoin(s, d)),
    "q38_sessionize" -> ((s: SparkSession, d: String) =>
      EventQueries.q38Sessionize(s, d)),
    "q48_session_funnel" -> ((s: SparkSession, d: String) =>
      EventQueries.q48SessionFunnel(s, d)),
    "q50_transitions" -> (EventQueries.q50Transitions _),
    // grouping sets + pivot reshape
    "q39_rollup_profile" -> (TextOps.qRollupProfile _),
    "q40_pivot_events" -> (EventQueries.q40PivotEventMatrix _),
    // TF-IDF sparse-vector similarity, per-doc keywords + sliding
    // range-frame window
    "q41_tfidf_pairs" -> (TextOps.qTfidfPairs _),
    "q45_top_keywords" -> (TextOps.qTopKeywords _),
    "q42_moving_avg" -> (EventQueries.q42MovingAverage _),
    // multimodal binary-column plumbing
    "q26_multimodal_meta" -> (Multimodal.qMultimodalMeta _),
    // corpus statistics / LM-flavored measurement passes
    "q51_zipf_fit" -> ((s: SparkSession, d: String) =>
      llmops.LmOps.q51ZipfFit(s, d)),
    "q53_lm_score" -> (llmops.LmOps.q53LmScore _),
    "q55_length_calibration" -> (llmops.LmOps.q55LengthCalibration _),
    "q56_stratum_quantiles" -> (llmops.LmOps.q56StratumQuantiles _),
    // retention cohort matrix (two-level temporal aggregation)
    "q52_retention" -> (EventQueries.q52RetentionCohorts _),
    // bloom-routed exact decontamination (runtime-filter pattern)
    "q54_bloom_decontam" -> (Curation.qBloomDecontaminate _),
    // data-mixing: weighted per-source sampling/upsampling summary
    "q57_mixture_sample" -> (Curation.qMixtureSummary _),
    // full outer join reconciliation + full CUBE grouping sets
    "q58_full_outer" -> (CoreQueries.q58FullOuter _),
    "q59_cube_profile" -> (TextOps.qCubeProfile _),
    // df-bounded vocabulary + per-doc OOV rate (tokenizer prep)
    "q60_oov_rate" -> ((s: SparkSession, d: String) =>
      TextOps.qOovRate(s, d)),
    // code-switching (mixed-language halves) detection
    "q61_code_switch" -> (TextOps.qCodeSwitch _),
    // relative-rank (percent_rank) top-quartile selection per stratum
    "q62_quality_select" -> (Curation.qQualitySelect _),
    // multi-touch (linear) attribution over the interval-join pairs
    "q63_linear_attribution" -> ((s: SparkSession, d: String) =>
      EventQueries.q63LinearAttribution(s, d)),
    // TPC-H Q5-shaped cyclic join (local-supplier revenue)
    "q64_revenue_cycle" -> (CoreQueries.q64RevenueCycle _),
    // full-SQL surface: correlated scalar subqueries (decorrelated)
    "q65_sql_surface" -> (CoreQueries.q65SqlSurface _),
    // gaps-and-islands day streaks (HAVING over window islands)
    "q66_streaks" -> (EventQueries.q66Streaks _),
    // INTERSECT / EXCEPT set operators (audience overlap)
    "q67_set_ops" -> (EventQueries.q67SetOps _),
    // triangle counting over a derived co-supply graph
    "q68_triangles" -> (operators.GraphQueries.q68Triangles _),
    // ntile equi-population deciles per priority
    "q69_value_deciles" -> (ExtraQueries.q69ValueDeciles _),
    // incremental aggregate maintenance (mergeable partials, oracle
    // takes the direct path — the match proves mergeability)
    "q70_incremental_rollup" -> ((s: SparkSession, d: String) =>
      EventQueries.q70IncrementalRollup(s, d)),
    // NOT IN subquery: the null-aware anti join (three-valued logic)
    "q71_notin_nullaware" -> (CoreQueries.q71NotInNullAware _),
    // known-skew salted join (deterministic salt; oracle runs plain)
    "q72_salted_join" -> (operators.Skew.q72SaltedJoin _),
    // MATCH_RECOGNIZE-style in-session sequence pattern (regex over
    // the ordered per-session type sequence)
    "q73_sequence_pattern" -> ((s: SparkSession, d: String) =>
      EventQueries.q73SequencePattern(s, d)),
    // BPE merge-pair statistics (vocabulary-first tokenizer prep)
    "q74_bpe_pairs" -> (TextOps.qBpePairs _),
    // WITH RECURSIVE transitive closure (Spark 4 UnionLoop)
    "q75_recursive_cte" -> (CoreQueries.q75RecursiveCte _),
    // VARIANT semi-structured extraction (parse once, typed reads)
    "q76_variant_json" -> (CoreQueries.q76VariantJson _),
    // LATERAL correlated top-n-per-group (decorrelated by Catalyst)
    "q77_lateral_topn" -> (CoreQueries.q77LateralTopN _),
    "q78_unpivot" -> (CoreQueries.q78Unpivot _),
    "q79_constellation" -> (CoreQueries.q79Constellation _),
    // reference-filter goldens over the real ZTF fixture (§2.5 gate)
    "q80_sn_candidates" -> (operators.GoldenQueries.q80SnCandidates _),
    "q81_class_histogram" -> (operators.GoldenQueries.q81ClassHistogram _),
    // nonlinear Rainbow light-curve fit (G6) — no SQL oracle exists
    // for an iterative optimizer: the driver records its rows-only
    // check; values pinned by RainbowFitSpec
    "q82_rainbow_fit" -> (operators.GoldenQueries.q82RainbowFit _),
    // Rubin fixture goldens — block-vector gates over the real LSST
    // alert fixture (§2.5 Rubin table, VERDICT r8 item 2)
    "q83_rubin_blocks" -> (operators.GoldenQueries.q83RubinBlocks _),
    "q84_rubin_most_likely_sn" ->
      (operators.GoldenQueries.q84RubinMostLikelySn _),
    // SemDeDup-shape semantic dedup: IVF cells + exhaustive in-cell
    // cosine + greedy min-id representative (low-threshold modality
    // that sign-LSH blocking can't serve)
    "q85_semantic_dedup" -> (Dedup.qSemanticDedup _),
    // perceptual image dHash near-dups (content-level multimodal dedup)
    "q86_image_dhash" -> (Multimodal.qImageDhashPairs _),
    // G9 anomaly-history counter: nightly top-N partials + 90-day count
    "q87_anomaly_history" -> (EventQueries.q87AnomalyHistory _),
    // Rubin extragalactic cascade + per-band blocks + galactic trig
    "q88_rubin_extragalactic" ->
      (operators.GoldenQueries.q88RubinExtragalactic _),
    // 18 predicate catalog filters certified in one survivors table
    "q89_ztf_filter_survivors" ->
      (operators.GoldenQueries.q89ZtfFilterSurvivors _),
    // semantic (embedding-space) train/eval decontamination: the
    // paraphrase-leak member of the q32/q54 decontamination trio
    "q90_semantic_decontam" -> (Curation.qSemanticDecontam _),
    // C4-shape corpus-global k-token span dedup with content signature
    "q91_span_dedup" -> (TextOps.qSpanDedup _),
    // edit-distance fuzzy join via symmetric-delete blocking + verify
    // (oracle runs naive all-pairs: a blocking-completeness certificate)
    "q92_fuzzy_join" -> (Linkage.qFuzzyJoin _),
    // Morton z-order layout kernel (multi-dimensional file clustering)
    "q93_zorder_layout" -> (operators.Layout.qZOrder _),
    // weighted priority sampling (DLT scheme, md5-uniform, exact
    // division arithmetic — reproducible weighted random sample)
    "q94_priority_sample" -> (Curation.qPrioritySample _),
    // exact set-similarity join via lossless prefix-filter blocking
    // (oracle runs the full co-count: a losslessness certificate)
    "q95_setsim_join" -> (Dedup.qSetSimJoin _),
    // integer-arithmetic PageRank (3 power iterations, BIGINT floor
    // divisions — an iterative fixpoint made hash-gateable)
    "q96_pagerank" -> (operators.GraphQueries.q96PageRank _),
    // integer Lloyd k-means (quantized grid, exact BIGINT distances
    // and floor-div centroid updates; assignment is a pure map stage)
    "q97_kmeans" -> (Cluster.qKmeans _),
    // batch kNN join: a query SET probes IVF cells, one seed_id
    // equi-join, per-query exact-cosine rank <= k
    "q98_knn_join" -> (Similarity.qKnnJoin _),
    // A6 per-band latest-prior rate cuts + the extragalactic_new
    // conjunction as a flag vector (the last Rubin block under a gate)
    "q99_rubin_rate_cuts" ->
      (operators.GoldenQueries.q99RubinRateCuts _),
    // censored Rainbow fit (5-sigma upper limits via the one-sided
    // hinge) — rows-only like q82: no SQL oracle for an iterative
    // optimizer; hinge algebra pinned by RainbowFitSpec
    "q100_rainbow_censored" ->
      (operators.GoldenQueries.q100RainbowCensored _),
    // incremental IVF index append == full rebuild (stable quantizer);
    // the oracle computes the whole-corpus assignment directly
    "q101_ivf_append" -> (Similarity.qIvfAppend _),
    // Lloyd-trained IVF quantizer end-to-end: q97 centroids dequantized
    // into the coarse quantizer, corpus assigned, cell occupancy
    "q102_ivf_kmeans_cells" -> (Similarity.qIvfKmeansCells _),
    // sliding-window document chunking (RAG/embedding prep): pure map
    // stage, stable (doc_id, chunk_idx) identity + content digests
    "q103_chunking" -> (TextOps.qChunkDocuments _),
    // water-filling mixture weights: rates meeting a target domain
    // distribution while keeping the most tokens (data mixing)
    "q104_mixture_weights" -> (Curation.qMixtureWeights _),
    // arbitrary-offset exact duplicated spans (ExactSubstr shape):
    // stride-1 l-gram hashes + corpus-global counts + island merge
    "q105_duplicated_spans" -> (TextOps.qDuplicatedSpans _),
    // ANALYZE-style column profile: null counts, exact cardinalities,
    // min/max per column (union of single-column pruned aggregations)
    "q106_table_profile" -> (operators.Profile.q106TableProfile _),
    // hybrid retrieval: term-overlap top-20 + cosine top-20 fused by
    // integer reciprocal-rank fusion (exact RRF points, hash-gateable)
    "q107_hybrid_rrf" -> (Retrieval.qHybridRrf _),
    // BM25 term retrieval: integer micro-point scores (ln-free
    // rational idf — division-only IEEE, no libm drift)
    "q108_bm25" -> (Retrieval.qBm25 _),
    // retrieval quality metrics over the q108 run: MRR/hits/recall in
    // exact integer micro-units (no nDCG — log2 is libm drift)
    "q109_retrieval_metrics" -> (Retrieval.qRetrievalMetrics _),
    // postings-index append == full rebuild (oracle IS the q108
    // statement — the q101 append-certificate pattern)
    "q110_bm25_indexed" -> (Retrieval.qBm25Indexed _),
    // pseudo-relevance-feedback expansion: retrieve -> mine top terms
    // from feedback docs -> re-retrieve (both rounds under the gate)
    "q111_prf_expansion" -> (Retrieval.qPrfExpansion _),
    // passage-level retrieval: q103 chunker feeds the q108 probe
    // unchanged (granularity is a data decision, not an operator one)
    "q112_passage_retrieval" -> (Retrieval.qPassageRetrieval _),
    // hard-negative mining: top-scoring non-relevant docs per query
    // (the contrastive-training pair surface)
    "q113_hard_negatives" -> (Retrieval.qHardNegatives _),
    // MaxScore lossless pruned top-k == full scoring (oracle IS the
    // q108 statement — the certificate pattern for the pruning path)
    "q114_bm25_maxscore" -> (Retrieval.qBm25MaxScore _),
    // exact phrase search: occurrence-count ranking over positional
    // n-grams (what bag-of-words scoring cannot express)
    "q115_phrase_search" -> (Retrieval.qPhraseSearch _),
    // NEAR/w proximity search over positional postings
    "q116_proximity_search" -> (Retrieval.qProximitySearch _),
    // positional-index certificates: landed + DocIndex.Positional.append
    // probed by phraseProbe/proximityProbe; oracles ARE the q115/q116
    // statements verbatim (append ≡ rebuild AND probe ≡ one-shot)
    "q117_phrase_indexed" -> (Retrieval.qPhraseIndexed _),
    "q118_proximity_indexed" -> (Retrieval.qProximityIndexed _),
    // hybrid RRF with the IVF-probe vector channel at nProbe ≥ nCells;
    // oracle IS the q107 statement (the indexed swap is a drop-in)
    "q119_hybrid_rrf_ivf" -> (Retrieval.qHybridRrfIvf _),
    // KWIC snippets over the positional index: occurrence count, first
    // anchor, and the context window as a hash-gated snippet string
    "q120_phrase_snippets" -> (Retrieval.qPhraseSnippets _),
    // gram-index certificates: landed + DocIndex.Gram.append probed
    // by gramProbe/snippetProbe; oracles ARE the q115/q120 statements
    // verbatim (append ≡ rebuild AND probe ≡ one-shot, fixed-n)
    "q121_gram_indexed" -> (Retrieval.qPhraseGramIndexed _),
    "q122_snippets_indexed" -> (Retrieval.qSnippetsGramIndexed _),
    // impact-ordered postings: append → re-quantize → probe; oracle
    // IS the q108 statement (pre-computed-impact certificate)
    "q123_bm25_impact" -> (Retrieval.qBm25Impact _),
    // boolean AND + NOT retrieval ranked by matched tf — the
    // query-language operator ranked scoring cannot express
    "q124_boolean_retrieval" -> (Retrieval.qBooleanRetrieval _),
    // index deletion (takedowns / update = delete + append): one slim
    // did anti-join serves all three per-doc index shapes; oracle
    // rebuilds over the remaining corpus (delete ≡ rebuild)
    "q125_index_delete" -> (Retrieval.qBm25Deleted _),
    // collocation mining: adjacent-pair association by exact rational
    // lift (= exp(PMI), rank-equivalent), micro-quantized — the
    // tokenizer/phrase-table vocabulary-induction pass
    "q126_collocations" -> (TextOps.qCollocations _),
    // sequence packing (concat-and-chunk training layout): per-doc
    // placement via the distributed two-level prefix sum; the mirror
    // replays it as one naive global cumsum — hash match certifies
    // two-level == naive
    "q127_sequence_packing" -> (TextOps.qSequencePacking _),
    // champion-list static pruning: per-term top-K impact postings
    // (hard probe-volume ceiling at build time); the mirror replays
    // quantize -> prune-window -> probe verbatim
    "q128_bm25_pruned" -> (Retrieval.qBm25Pruned _),
    // query-likelihood retrieval (Dirichlet smoothing) ranked by an
    // exact-integer 3-slot product — the LM scoring family next to
    // BM25, hash-exact end-to-end (scores surfaced as strings)
    "q129_ql_dirichlet" -> (Retrieval.qQlDirichlet _),
    // index upsert (re-ingest of updated documents = delete + append,
    // landed unchanged docs never re-tokenized); oracle rebuilds over
    // the post-update corpus (upsert ≡ rebuild)
    "q130_index_upsert" -> (Retrieval.qBm25Upserted _),
    // BM25F multi-field scoring: per-field length normalization,
    // weighted evidence, ONE saturation per term (what separates
    // BM25F from summing per-field BM25 scores)
    "q131_bm25f" -> (Retrieval.qBm25F _),
    // MMR diversified re-ranking: greedy λ·rel − (1−λ)·max-sim picks
    // in exact integer arithmetic; the oracle unrolls the same greedy
    // trace, so the pick ORDER hash-gates
    "q132_mmr_diversify" -> (Retrieval.qMmrDiversify _),
    // scatter-gather sharded serving: did-disjoint shards probed with
    // SHARED global invariants, gathered top-ks re-ranked; oracle IS
    // the q108 statement (the topology is score-lossless)
    "q133_bm25_sharded" -> (Retrieval.qBm25Sharded _),
    // min–max normalized weighted fusion (CombSUM): the score-based
    // fusion baseline next to rank-based RRF, exact-integer end-to-end
    "q134_minmax_fusion" -> (Retrieval.qMinMaxFusion _),
    // tiered serving: champion-list first tier, per-query fallback to
    // the full impact index when underfull (tier column pins WHICH
    // tier answered); the mirror replays the whole broker CASE
    "q135_bm25_tiered" -> (Retrieval.qBm25Tiered _),
    // rank-biased overlap at p = 1/2 (exact 2^-d weights): the
    // run-comparison metric — top-weighted agreement of two rankers
    "q136_rbo_runs" -> (Retrieval.qRboRuns _),
    // epoch-keyed deterministic training-order shuffle: bijective
    // Feistel key per (epoch, seq_id) — two epochs' keys in one gate
    "q137_epoch_shuffle" -> (TextOps.qEpochShuffle _),
    // unigram-LM tokenizer seed statistic (the EM rounds are pinned by
    // UnigramSpec — no SQL oracle replays an argmax DP)
    "q138_unigram_seed" -> (Unigram.qUnigramSeed _),
    // JL ±1 random projection (dimensionality compression, exact ints)
    "q139_random_projection" -> (Similarity.qRandomProjection _),
    // DSIR importance resampling: hashed-ngram target/raw fits, exact
    // integer log2 kernel, top-k selection (Xie et al. 2023)
    "q140_dsir_select" -> (Curation.qDsirSelect _),
    // WordPiece round-0 merge table: ## symbol alphabet + likelihood
    // scores (the training loop itself is pinned by WordPieceSpec)
    "q141_wordpiece_seed" -> (WordPiece.qWordpieceSeed _),
    // greedy k-center coreset: diverse exemplar selection over the
    // embedding table, exact Long distances (Gonzalez 1985)
    "q142_kcenter_coreset" -> (Cluster.qKcenterCoreset _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — every query, q24's md5 SimHash included.
    */
  def oracleSql: Map[String, String] = OracleSql.all
}
