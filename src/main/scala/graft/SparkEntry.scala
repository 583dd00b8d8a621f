package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] is an operator from SURVEY.md §2 (parity) or
  * the north-star extension set (dedup / similarity / text analysis /
  * events); [[oracleSql]] carries the DuckDB-equivalent ANSI SQL for the
  * driver's hash-compare. Column names and row ordering are kept
  * identical on both sides by construction.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.pipeline.EntityPipeline.entityCounts(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- parity: the reference's pipeline shape (SURVEY.md §2.2-2.4) ----
    "p01_entity_count"       -> (graft.pipeline.EntityPipeline.entityCounts _),
    // p02 = gazetteer-augmented typed NER: broadcast (surface -> type)
    // table below the explode, capitalized-word PER fallback — the
    // PER/ORG/LOC/MISC surface contract of the reference's model.
    "p02_typed_entities"     -> (graft.pipeline.EntityPipeline.typedEntityCounts _),
    // p03 = multi-token entity spans: consecutive same-type entity
    // tokens merge into ONE surface (grouped_entities analog), typed
    // with the p02 precedence via gaps-and-islands on token position.
    "p03_entity_spans"       -> (graft.pipeline.EntityPipeline.entitySpans _),
    // p04 = entity co-occurrence pairs over the p03 spans: the
    // knowledge-graph layer the counting pipeline grows into.
    "p04_entity_cooccur"     -> (graft.pipeline.EntityPipeline.entityCooccurrence _),
    // ---- relational surface ----
    "q01_pricing_summary"    -> (Relational.pricingSummary _),
    "q02_top_orders"         -> (Relational.topOrders _),
    "q03_region_revenue"     -> (Relational.regionRevenue _),
    "q04_brand_volume"       -> (Relational.brandVolume _),
    "q05_topk_per_customer"  -> (Relational.topOrdersPerCustomer _),
    "q06_top_lineitems"      -> (Relational.topLineitems _),
    "q07_set_ops"            -> (Relational.setOps _),
    "q08_rollup"             -> (Relational.rollupSummary _),
    "q09_distinct_counts"    -> (Relational.distinctCounts _),
    "q10_customers_without_f"-> (Relational.customersWithoutF _),
    "q11_priority_breakdown" -> (Relational.priorityBreakdown _),
    "q12_running_supplier"   -> (Relational.runningSupplierVolume _),
    "q20_salted_agg"         -> (Relational.saltedFlagTotals _),
    "q13_cube"               -> (Relational2.cubeSummary _),
    "q14_percentiles"        -> (Relational2.quantityPercentiles _),
    "q15_part_strings"       -> (Relational2.partStrings _),
    "q16_above_avg"          -> (Relational2.aboveAverageCustomers _),
    "q17_pivot"              -> (Relational2.statusPriorityPivot _),
    "q18_quarters"           -> (Relational2.ordersByQuarter _),
    "q19_grouping_sets"      -> (Relational2.revenueGroupingSets _),
    "q21_order_gaps"         -> (Relational2.orderGaps _),
    "q22_late_orders"        -> (Relational2.lateOrders _),
    // q23 = the constant-memory approx-percentile scale path for q14,
    // gated t07-style (oracle asserts the sketch lands in tolerance).
    "q23_approx_percentiles" -> (Relational2.approxPercentileAudit _),
    // q24 = Deequ-style column profiler: per-column row/null/exact-
    // distinct counts + typed extrema, each column through its own
    // narrow pruned scan, distincts via two-level aggregates (no
    // multi-count-distinct Expand).
    "q24_column_profile"     -> (Relational2.columnProfile _),
    // e21 = hourly unique users (DAU/HAU): exact via one two-level
    // aggregate (no count-distinct Expand), HLL arm audited t07-style
    // over the same pre-aggregated rows.
    "e21_hourly_uniques"     -> (EventOps.hourlyUniques _),
    // e22 = hourly concurrency: sessions (e03 frame) exploded to their
    // covered hours — the interval-overlap shape; fan-out bounded by
    // session duration, never a sweep-line global sort.
    "e22_concurrency"        -> (EventOps.hourlyConcurrency _),
    // e23 = hour-of-day seasonal profile: |types|×24 traffic
    // fingerprint (counts, shares, ranks) — the seasonality baseline.
    "e23_hourly_profile"     -> (EventOps.hourOfDayProfile _),
    // e24 = inter-arrival burstiness by activity band: CV >= 1 as
    // exact BIGINT algebra (n·Σg² >= 2·(Σg)²), gaps from floored
    // microsecond epochs — no doubles anywhere.
    "e24_interarrival"       -> (EventOps.interArrivalProfile _),
    // e25 = session co-occurrence lift over the e03 session windows;
    // lift > 1 as exact integer cross-multiplication.
    "e25_session_lift"       -> (EventOps.sessionTypeLift _),
    // e26 = watermark lateness audit: the q31 range-partition
    // discipline as a prefix MAX — no global window anywhere.
    "e26_watermark_audit"    -> (EventOps.watermarkLatenessAudit _),
    // e27 = DAU/WAU stickiness: the sliding-exact-distinct shape via a
    // ×7 coverage explode of (day, user) rows — no sliding frame, no
    // per-day raw rescan; ratio = one exact BIGINT÷BIGINT divide.
    "e27_stickiness"         -> (EventOps.stickiness _),
    // e28 = per-user transition entropy: behavior-side bot detection
    // (e24 reads timing); t45's integer-log decomposition + the
    // t22/t24 segmented fold keep every float engine-exact.
    "e28_transition_entropy" -> (EventOps.userTransitionEntropy _),
    // e29 = e10's left-outer twin: every purchase, NULL signup_id
    // where no signup sits in the 7-day reach-back — the batch ground
    // truth for the StreamingAttributionOuter door.
    "e29_attribution_outer"  -> (EventOps.purchaseSignupOuter _),
    // e30 = hourly autocorrelation periodicity: R(L)=Σ c(h)·c(h+L)
    // at lags 1/23/24/25, all-BIGINT; daily_peak = local max at 24.
    "e30_periodicity"        -> (EventOps.hourlyPeriodicity _),
    // e31 = CUSUM changepoint on daily volume, mean cross-multiplied
    // away so the whole op is exact BIGINTs; ties -> earliest day.
    "e31_changepoints"       -> (EventOps.changepoints _),
    // e32 = retention-decay OLS over pooled calendar-observable
    // cohorts; integer-log rates, fixed literal closed form.
    "e32_retention_decay"    -> (EventOps.retentionDecay _),
    // e33 = activity Gini: engagement inequality via the q31
    // range-partitioned global rank; exact-integer numerator.
    "e33_activity_gini"      -> (EventOps.activityGini _),
    // e34 = count-min heavy hitters: exact top-10 probed against the
    // 4x64 sketch, one-sided error pinned; all-integer.
    "e34_heavy_hitters"      -> (EventOps.heavyHitters _),
    // e35 = spike attribution: who drove the peak day — integer
    // excess vs each user's overall share, one divide for lift.
    "e35_spike_attribution"  -> (EventOps.spikeAttribution _),
    // e36 = Markov next-event baseline trained and scored in-engine;
    // argmax a rank-1 window over the tiny transition matrix.
    "e36_markov_accuracy"    -> (EventOps.markovAccuracy _),
    // e37 = bot-signal composite: burst/breadth/self-loop verdict
    // table, every compare cross-multiplied on BIGINTs.
    "e37_bot_signals"        -> (EventOps.botSignals _),
    // e38 = bounce rate by entry event over the e03 islands; opener
    // rank-1 by (ts, event_id), one divide per row.
    "e38_bounce_rate"        -> (EventOps.bounceRate _),
    // e39 = weekday ANOVA eta^2 on exact daily counts; divides are
    // single fixed-order IEEE ops, fold by weekday.
    "e39_dow_seasonality"    -> (EventOps.dowSeasonality _),
    // e40 = silent-hour gaps: the densified zero-activity report —
    // e13 flags too-much, this flags too-little; gap picks on an
    // exact BIGINT composite.
    "e40_silent_gaps"        -> (EventOps.silentGaps _),
    // e41 = depth-bounded recursive CTE (Spark 4's UnionLoop): k-step
    // path counts over the transition support graph, exact BIGINTs.
    "e41_path_counts"        -> (EventOps.pathCounts _),
    // e42 = Spark 4 VARIANT ingestion: parse_json once, typed
    // variant_get extraction, exact integer rollup per type.
    "e42_variant_rollup"     -> (EventOps.variantRollup _),
    // e43 = DYNAMIC-gap session windows: the gap Column is decided per
    // event (purchase holds 30 min, else 10), session end is the
    // running max of ts+gap — true interval merge, the Spark-4
    // session_window(ts, gapExpr) surface e03's static form can't hit.
    "e43_dynamic_sessions"   -> (EventOps.dynamicSessions _),
    // e44 = CHAINED stateful shape: tumbling-hour histogram OVER the
    // session_window aggregate (sessions bucketed by close hour) —
    // batch anchor for the two-stateful-operators streaming door.
    "e44_session_close_histogram" -> (EventOps.sessionCloseHistogram _),
    // m19 = EXECUTED audio decimation through the real WAV codec
    // (decode → drop odd samples → re-encode at 4 kHz → decode);
    // position-weighted sums pin sample order across the chain.
    "m19_wav_decimate"       -> (Multimodal.wavDecimate _),
    // q25 = constraint validation: PK uniqueness on (orderkey,
    // linenumber) + lineitem→orders referential integrity, one
    // gate-able verdict row.
    "q25_integrity_audit"    -> (Relational2.integrityAudit _),
    // q26 = rolling 7-day revenue: trailing time-RANGE frame over the
    // per-day pre-aggregate (RANGE bounds by VALUE, correct over
    // calendar gaps where ROWS frames over-reach).
    "q26_rolling_revenue"    -> (Relational2.rollingRevenue _),
    // q27 = big spenders (TPC-H Q18 shape): HAVING-filtered quantity
    // aggregate becomes the semi-join build side; only survivors join
    // orders/customer; top-20 via TakeOrderedAndProject.
    "q27_big_spenders"       -> (Relational2.bigSpenders _),
    // q28 = nation market share: decimal-exact revenue, share of the
    // window total, percent_rank relative standing over |nations| rows.
    "q28_market_share"       -> (Relational2.nationMarketShare _),
    // q29 = TPC-H Q17 shape: per-row comparison against the row's own
    // group aggregate, algebraized to exact decimal-integer products
    // (5·qty·count < sum) so no engine-specific division rounding.
    "q29_small_qty_revenue"  -> (Relational2.smallQuantityRevenue _),
    // q30 = TPC-H Q22 shape: scalar-subquery balance threshold
    // (algebraized to exact decimals) + per-customer order history +
    // nation rollup.
    "q30_idle_rich"          -> (Relational2.idleRichCustomers _),
    // q31 = Pareto concentration: the decimal-exact cumulative-share
    // crossing (cum·100 ≥ total·80) over the customer spend ranking.
    "q31_pareto"             -> (Relational2.paretoConcentration _),
    // q32 = TPC-H Q21 shape (sole-blame late suppliers): the double
    // correlated EXISTS rewritten as one (order, supplier) aggregate
    // plus an order-level rollup — three integer facts decide blame.
    "q32_blame_suppliers"    -> (Relational2.blameSuppliers _),
    // q33 = TPC-H Q7 shape (cross-border nation-to-nation trade by
    // ship-year): the two nation legs are constant broadcasts, so the
    // second dimension costs no extra shuffle.
    "q33_nation_trade"       -> (Relational2.nationTrade _),
    // q34 = TPC-H Q9 shape (profit by supplier nation and order year,
    // filtered part probe side); money stays decimal to the last cast.
    "q34_profit_by_nation"   -> (Relational2.profitByNation _),
    // q35 = TPC-H Q16 shape: distinct-supplier counts per part class
    // behind a blacklist anti-join; two-level distinct, no Expand.
    "q35_supplier_variety"   -> (Relational2.partSupplierVariety _),
    // q36 = z-order layout audit: per-file footer stats + 2-D
    // predicate prunability for interleaved vs single-key layouts.
    "q36_zorder_layout"      -> (Relational2.zorderLayout _),
    // q37 = TPC-H Q20 shape: suppliers shipping >half a PROMO part's
    // total volume (exact-decimal cross-multiply), rolled up by
    // nation.
    "q37_dominant_suppliers" -> (Relational2.dominantSuppliers _),
    // q38 = incremental view maintenance: delta partial aggregate
    // merged into base == full recompute, exactly (decimal state).
    "q38_incremental_agg"    -> (Relational2.incrementalAggMaintenance _),
    // q39 = join-cardinality estimation audit: naive and 16-bucket
    // histogram estimates vs the exact size from per-date counts.
    "q39_join_estimate"      -> (Relational2.joinEstimate _),
    // q40 = latest-row-per-key compaction: max_by argmax aggregate
    // certified against the window top-1 arm (integer ordinal).
    "q40_latest_orders"      -> (Relational2.latestOrders _),
    // q41 = whole-schema FK audit: orphan counts for all 7 edges in
    // one 7-row contract report.
    "q41_fk_audit"           -> (Relational2.fkAudit _),
    // q42 = unpivot/melt round-trip of q17's matrix, zero-fill cells
    // certified against the direct aggregate.
    "q42_priority_melt"      -> (Relational2.priorityMelt _),
    // q43 = Q15 shape: quarter revenue view, equality-to-max on exact
    // decimals (the multi-row argmax set, not top-k).
    "q43_top_supplier"       -> (Relational2.topQuarterSupplier _),
    // q44 = TPC-H Q2 shape: min-cost supplier per small part via a
    // CORRELATED scalar subquery (the decorrelation rewrite surface).
    "q44_min_cost_supplier"  -> (Relational2.minCostSupplier _),
    // q45 = TPC-H Q11 shape: GROUP BY + HAVING gated by scalar
    // aggregate subqueries over the same relation (mean-share bar).
    "q45_value_concentration" -> (Relational2.valueConcentration _),
    // q46 = TPC-H Q22 shape: correlated NOT EXISTS (the genuine
    // RewritePredicateSubquery anti-join surface) + scalar avg bar
    // algebraized to bal*n > sum, grouped by nation.
    "q46_dormant_accounts"   -> (Relational2.dormantAccounts _),
    // q47 = correlated LATERAL (ORDER BY + LIMIT 1): the top-1-per-
    // outer-row decorrelation path, rewritten to a partitioned rank.
    "q47_vip_latest_order"   -> (Relational2.vipLatestOrder _),
    // s34 = linearized silhouette: per-vector clustering quality in
    // n·k dots against the cells' normalized-sum vectors (never n²).
    "s34_silhouette"         -> (Similarity.silhouetteAudit _),
    // m20 = scene-change detection over the shared gif_frames sidecar:
    // per video the cut/scene/longest-run report via gaps-and-islands
    // on consecutive frame-hash equality.
    "m20_scene_changes"      -> (Multimodal.sceneChanges _),
    // ---- event-time surface (ST3/ST4/ST7 batch-checkable analogs) ----
    "e01_tumbling"           -> (EventOps.tumbling _),
    "e02_sliding"            -> (EventOps.sliding _),
    "e03_sessions"           -> (EventOps.sessions _),
    "e04_json_stats"         -> (EventOps.jsonStats _),
    "e05_asof_attribution"   -> (EventOps.purchaseAttribution _),
    "e06_first_events"       -> (EventOps.firstEvents _),
    "e07_type_shares"        -> (EventOps.typeShares _),
    "e09_user_sim_bucketed"  -> (EventOps.userSeriesSimilarityBucketed _),
    "e10_range_join"         -> (EventOps.purchaseSignupRange _),
    // e11 = ordered conversion funnel (view -> click -> purchase with
    // strict event-time ordering between stages, integer-µs lag sums).
    "e11_funnel"             -> (EventOps.funnel _),
    // e16 = windowed top-k "trending": per tumbling day the top-3 event
    // types by count plus their share — e01's matrix reduced to the
    // ranked cut a dashboard reads.
    "e16_windowed_topk"      -> ((s, d) => EventOps.windowedTopTypes(s, d)),
    // e12 = weekly retention cohort matrix (first-event week × age).
    "e12_retention"          -> (EventOps.retentionCohorts _),
    // e13 = integer-exact 2-sigma anomaly flags on hourly type counts.
    "e13_anomalies"          -> (EventOps.hourlyAnomalies _),
    // e14 = first-order Markov transition matrix over per-user event
    // sequences (lead window; P(to|from) as one exact integer divide).
    "e14_transitions"        -> (EventOps.transitions _),
    // e15 = dwell-time profile per transition (integer-µs gaps, exact
    // mean) — e14's latency companion, the funnel's timing surface.
    "e15_dwell"              -> (EventOps.transitionDwell _),
    // e19 = e11's distribution view: per funnel transition the exact
    // p50/p90 per-user conversion lag in integer µs (q14 discipline).
    "e19_funnel_lags"        -> (EventOps.funnelLagPercentiles _),
    // e18 = session features: per (user, gap-session) the count,
    // integer-µs duration, type count (collect_set, no Expand),
    // conversion flag, exact decimal value sum — the model-facing
    // feature table from e03's one pass.
    "e18_session_features"   -> (EventOps.sessionFeatures _),
    // e20 = per-user engagement profile: e18's sessions rolled up per
    // user (session count, events, total µs, purchase sessions, exact
    // BIGINT/BIGINT conversion rate) — rides the same session pass.
    "e20_user_engagement"    -> (EventOps.userEngagement _),
    // e17 = e15's tail view: exact p50/p90/p99 dwell per transition
    // (q14 percentile discipline) + an approx_percentile 5%-gate
    // (t07 pattern) — the certificate arm over the sketch the 100 TB
    // path runs.
    "e17_dwell_percentiles"  -> (EventOps.transitionDwellPercentiles _),
    // ---- text analysis (LLM-pipeline extensions) ----
    "t01_token_stats"        -> (TextOps.tokenStats _),
    "t02_quality_score"      -> (TextOps.qualityScore _),
    "t03_lang_id"            -> (TextOps.langId _),
    "t04_fingerprints"       -> (TextOps.fingerprints _),
    "t05_top_terms"          -> (TextOps.topTerms _),
    "t06_top_bigrams"        -> (TextOps.topBigrams _),
    "t07_approx_distinct"    -> (TextOps.approxDistinctTerms _),
    "t08_subtoken_count"     -> (TextOps.subtokenCounts _),
    "t09_rolling_fingerprint"-> (TextOps.rollingFingerprints _),
    "t10_topk_per_source"    -> (TextOps.topTermsPerSource _),
    "t11_training_selection" -> (TextOps.trainingSelection _),
    "t13_tfidf"              -> (TextOps.tfIdf _),
    // ---- deduplication (LLM-pipeline extensions) ----
    // The all-pairs / uncapped forms (Dedup.minhashLshPairs,
    // Dedup.simhashPairs, Dedup.embeddingDupPairs,
    // EventOps.userSeriesSimilarity) are deliberately NOT registered:
    // they are the small-input recall oracles for the bucketed scale
    // paths below (d08/d09/d10/e09), value-checked in RecallSpec.
    "d01_exact_dups"         -> (Dedup.exactDupGroups _),
    "d02_minhash_sigs"       -> (Dedup.minhashSignatures _),
    "d04_shingle_jaccard"    -> (Dedup.shingleJaccardPairs _),
    "d12_shingle_capped"     -> ((s, d) => Dedup.shingleJaccardPairsCapped(s, d)),
    // d17 = asymmetric containment (inter/min) over the same df-capped
    // shingle index — catches doc-in-doc duplication Jaccard misses.
    "d17_containment"        -> ((s, d) => Dedup.shingleContainmentPairs(s, d)),
    "d08_lsh_pairs_capped"   -> ((s, d) => Dedup.minhashLshPairsCapped(s, d)),
    "d05_simhash"            -> (Dedup.simhash _),
    "d09_simhash_banded"     -> (Dedup.simhashPairsBanded _),
    "d10_embedding_bucketed" -> (Dedup.embeddingDupPairsBucketed _),
    "d11_dup_clusters"       -> ((s, d) => Dedup.dupClusters(s, d)),
    "d13_dup_clusters_multi" -> ((s, d) => Dedup.dupClustersMulti(s, d)),
    "d14_incremental"        -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "d15_incremental_multi"  -> ((s, d) => Dedup.incrementalDedupMulti(s, d)),
    // d16 = SemDeDup-style semantic prune: IVF-cell clustering (the s04
    // codebook) + within-cell cosine threshold, one-pass greedy keep.
    "d16_semantic_prune"     -> (Dedup.semanticPrune _),
    // d18 = sketch-accuracy audit: MinHash-estimated vs true token
    // Jaccard on the d08 candidate pairs.
    "d18_mh_accuracy"        -> ((s, d) => Dedup.minhashAccuracy(s, d)),
    // d29 = LSH threshold calibration over the d18 pair audit: per τ
    // the estimator's pass count, true count, precision, and the
    // theoretical (r=3, b=4) S-curve — the index-tuning read.
    "d29_lsh_calibration"    -> ((s, d) => Dedup.lshThresholdCalibration(s, d)),
    // d19 = the dedup outcome: per cluster, kept representative +
    // members collapsed + characters removed from the corpus.
    "d19_dedup_report"       -> ((s, d) => Dedup.dedupMaterialize(s, d)),
    // d20 = chunk-level exact substring dedup (fixed 10-token windows):
    // repeated spans across distinct documents, the boilerplate finder.
    "d20_chunk_dedup"        -> ((s, d) => Dedup.chunkDedup(s, d)),
    // d21 = connected components over the embedding near-dup graph —
    // semantic clusters (paraphrase chains), d11's embedding analog.
    "d21_semantic_clusters"  -> (Dedup.semanticClusters _),
    // d22 = content-defined chunk dedup (CDC boundaries travel with
    // the text) — d20's repeated-span finder at ANY alignment.
    "d22_chunk_cdc"          -> ((s, d) => Dedup.chunkDedupCdc(s, d)),
    // d23 = cluster-tightness audit: per d11 cluster the weakest
    // candidate edge by TRUE Jaccard (token-index recount) — the
    // single-linkage chaining detector a campaign reads before
    // trusting the d19 report.
    "d23_cluster_tightness"  -> ((s, d) => Dedup.clusterTightness(s, d)),
    // d25 = ingest admission: per arriving doc (d14 slice) the full
    // admit/reject verdict — three dedup signals vs the static index,
    // the t02 quality bar, benchmark decontamination — with reasons.
    "d25_ingest_admission"   -> ((s, d) => Dedup.ingestAdmission(s, d)),
    // d26 = the d25 gates as a short-circuit cascade (quality → exact
    // → MinHash → SimHash → decontamination), each stage probing only
    // survivors; per-doc signal independence makes the verdict
    // provably d25's, and the probed_* flags carry the measured
    // probe reduction.
    "d26_staged_admission"   -> ((s, d) => Dedup.stagedAdmission(s, d)),
    // d28 = the cascade completed with compliance: d26's stages, then
    // the t33 PII scan over SURVIVORS only — email/phone hits reject
    // at stage 'pii', IPv4 counts carry to the redact step.
    "d28_pii_admission"      -> ((s, d) => Dedup.piiAdmission(s, d)),
    // c01 = the END-TO-END curation campaign: t51 Gopher gate → d27
    // dedup decisions → t41 decontamination → d35 span cuts → shipped
    // artifact + ledger → t27 mixture plan + t21 packing recomputed
    // from the written bytes; ONE oracle replays the whole chain.
    "c01_curation_campaign"  -> ((s, d) => Curation.curationCampaign(s, d)),
    // c02 = the INGEST-TIME campaign: the composed door's five-gate
    // chain (quality/dedup/decontam/JM/DSIR) as one oracle-checked
    // batch over the d14 arrival convention — the StreamingCampaign
    // door's batch twin.
    "c02_ingest_campaign"    -> ((s, d) => Curation.ingestCampaign(s, d)),
    // d30 = d27 rolled up per source in TOKENS — the dedup savings in
    // the mixture planner's currency; |sources| rows out.
    "d30_savings_by_source"  -> ((s, d) => Dedup.dedupSavingsBySource(s, d)),
    // d44 = PageRank over the capped near-dup graph: 10 deterministic
    // power iterations, source-ordered folds, degree bounded by
    // cap x bands — cluster-connectivity centrality beyond CC labels.
    "d44_dup_pagerank"       -> ((s, d) => Dedup.dupPagerank(s, d)),
    // d45 = label-propagation communities over the same capped graph:
    // 6 synchronous integer-only rounds (majority label, min-label
    // ties) — cohesion splits that CC's reachability cannot see.
    "d45_dup_communities"    -> ((s, d) => Dedup.dupCommunities(s, d)),
    // d46 = takedown impact audit: over the shared capped pair graph,
    // the pairs a delete wave (doc_id % 7 = 2) drops and the docs it
    // RELEASES (every dup partner dead — the phantom-veto-ended count
    // the DurableIndex.textProbe delete lifecycle exists for); one all-
    // BIGINT row with the before = dead + released + after invariant.
    "d46_takedown_audit"     -> ((s, d) => Dedup.takedownAudit(s, d)),
    // d31 = the SHIPPED curated corpus read back: writeCuratedCorpus
    // runs, then per-source doc count + token sum recomputed from the
    // written artifact itself — the write path under the hash oracle.
    "d31_curated_readback"   -> ((s, d) => Dedup.curatedReadback(s, d)),
    // d32 = incremental LABEL maintenance: arriving batch's probe
    // edges folded into the historical cluster labeling by component
    // contraction — CC runs over a probe-edge-sized graph, untouched
    // components never shuffle; the verdict rows are the sidecar delta.
    "d32_incremental_clusters" -> ((s, d) => Dedup.incrementalClusters(s, d)),
    // d33 = threshold ablation: exact-Jaccard clusters at τ=0.3 vs
    // τ=0.95, diffed per cluster — names the clusters held together
    // only by weak edges; one scored pair list, two CC passes.
    "d33_threshold_ablation" -> ((s, d) => Dedup.thresholdAblation(s, d)),
    // d34 = exact repeated substrings at ARBITRARY length (the
    // Lee-et-al. training-dedup standard): positional L-gram hashes,
    // cross-doc repeated grams, maximal consecutive runs = maximal
    // duplicated regions — catches spans d20 (alignment) and d22
    // (boundary-free) both miss.
    "d34_repeated_spans"     -> ((s, d) => Dedup.maximalRepeatedSpans(s, d)),
    // d35 = the d34 APPLY step (ExactSubstr cut pass): duplicated
    // regions removed from every non-canonical carrier, cleaned text
    // shipped — the hash match certifies the exact cleaned bytes.
    "d35_span_dedup_apply"   -> ((s, d) => Dedup.spanDedupApply(s, d)),
    // d36 = d34 at ingest: arrivals probe the HISTORICAL gram set
    // alone (never each other) and report maximal already-in-corpus
    // regions — the pre-admission leakage report.
    "d36_incremental_spans"  -> ((s, d) => Dedup.incrementalSpanProbe(s, d)),
    // d37 = curation impact: KL(post-dedup || pre-dedup) per source
    // over unigram distributions — does the kept corpus still read
    // like the source? (t22's fold discipline on the d27 keep set.)
    "d37_curation_shift"     -> ((s, d) => TextOps.curationShift(s, d)),
    // d38 = Bloom-filter exact-dup prescreen: constant-memory gate in
    // front of the md5 join, fp arm gated t07-style (the fp COUNT is
    // filter-layout-specific; the no-false-negative arm is exact).
    "d38_bloom_prescreen"    -> ((s, d) => Dedup.bloomPrescreen(s, d)),
    // d39 = b-bit minwise (b=1) audit: the 64x signature compression's
    // accuracy cost read per candidate next to the full estimate and
    // the exact recount; unclamped so variance stays visible.
    "d39_bbit_minwise"       -> ((s, d) => Dedup.bbitMinwiseAudit(s, d)),
    // d40 = SemDeDup: within-IVF-cell cos >= 0.4 near-dup groups via
    // CC; keep the member FARTHEST from its centroid (the paper's
    // rule), ties by lowest vec_id.
    "d40_semdedup"           -> ((s, d) => Dedup.semDedup(s, d)),
    // d41 = lexical (d27) vs semantic (d40) decision agreement: one
    // row per verdict pair keep/drop/uninvolved with doc counts.
    "d41_signal_agreement"   -> ((s, d) => Dedup.dedupSignalAgreement(s, d)),
    // d42 = syndication audit: d11 clusters x source — intra-source
    // re-crawl vs cross-source mirrors, per-cluster verdict.
    "d42_syndication"        -> ((s, d) => Dedup.syndicationAudit(s, d)),
    // d43 = bucket-cap ablation: the d33 shape on the LSH cap knob;
    // per cap-64 cluster, the cap-16 fragmentation.
    "d43_cap_ablation"       -> ((s, d) => Dedup.capAblation(s, d)),
    // d27 = the dedup DECISION table: per implicated doc the keep/drop
    // verdict with the quality-argmax canonical survivor (tie → min
    // doc_id) — the apply-step artifact downstream filters join on.
    "d27_canonical_keep"     -> ((s, d) => Dedup.canonicalSelection(s, d)),
    // d24 = cross-modal disagreement report: d11 text clusters joined
    // with m12 image clusters per doc; flags text-dups whose images
    // differ and image-dups whose texts differ — the review queue
    // before a cross-modal dedup drops anything.
    "d24_crossmodal"         -> (Multimodal.crossModalReport _),
    // ---- similarity search ----
    "s01_knn_brute"          -> (Similarity.bruteForceKnn _),
    "s02_knn_bucketed"       -> (Similarity.bucketedKnn _),
    "s03_label_purity"       -> (Similarity.knnLabelPurity _),
    "s04_knn_ivf"            -> (Similarity.ivfKnn _),
    "s05_knn_multiprobe"     -> (Similarity.multiProbeKnn _),
    "s06_knn_pq"             -> (Similarity.pqKnn _),
    "s07_knn_pq_rerank"      -> (Similarity.pqRerankKnn _),
    // s08 = the production IVF-PQ composition: coarse-cell probe, ADC
    // over cell members' 4-byte codes, exact re-rank of the shortlist.
    "s08_knn_ivfpq"          -> (Similarity.ivfPqKnn _),
    // s11 = recall-vs-probe-width audit of the s08 IVF-PQ index:
    // recall@5 vs exact brute force at shortlist widths 5/25/50 —
    // the "measure the approximation" row for the production index.
    "s11_recall_audit"       -> (Similarity.ivfPqRecallAudit _),
    // s12 = hot-cell rebalance audit: per-IVF-cell population vs the
    // uniform share, plus the split/merge plan a rebalance would run —
    // the d12 frequency-cap discipline applied to the coarse index.
    "s12_cell_rebalance"     -> (Similarity.ivfCellRebalanceAudit _),
    // s13 = SQ8 two-stage retrieval: global-affine uint8 codes, integer-
    // exact reconstructed-cosine shortlist, exact float re-rank — the
    // 4x-compression serving path between PQ (s07) and raw floats.
    "s13_sq_rerank"          -> (Similarity.sqRerankKnn _),
    // s14 = kNN-graph construction: every vector's top-3 cell-mates as
    // a materialized edge list — the artifact SemDeDup/graph-ANN/UMAP
    // consume; corpus-wide, unlike the few-query probes.
    "s14_knn_graph"          -> ((s, d) => Similarity.knnGraph(s, d)),
    // s09 = coreset manifest: per IVF cell the best-fit representative,
    // population, and worst-fit cosine — diversity sampling + cell audit.
    "s09_centroid_reps"      -> (Similarity.centroidReps _),
    // s10 = int8 quantization audit: per-dim range/scale/code-sum/worst
    // reconstruction error — the float32→uint8 index-export step.
    "s10_quantization"       -> (Similarity.quantizationAudit _),
    "t14_hash_split"         -> (TextOps.hashSplit _),
    // t18 = language-stratified deterministic downsample (md5-bucket
    // per-stratum rates; rerun-stable, shuffle-free).
    "t18_stratified_sample"  -> (TextOps.stratifiedSample _),
    // t19 = cross-corpus novelty (fraction of a doc's shingles unique
    // to it) — the corpus-level complement of t17's within-doc filters.
    "t19_novelty"            -> (TextOps.noveltyScore _),
    // t20 = unigram-LM mean negative log-prob (perplexity-filter
    // stand-in; term-ordered fold keeps the float sum engine-exact).
    "t20_unigram_nll"        -> (TextOps.unigramLogProb _),
    // t21 = sequence packing: greedy concat-then-cut token-budget
    // binning per (source, md5 shard) — the corpus→training-run step.
    "t21_sequence_pack"      -> ((s, d) => TextOps.sequencePack(s, d)),
    // t22 = per-source KL divergence vs the corpus unigram blend —
    // the data-mixing drift monitor (term-ordered float fold).
    "t22_source_divergence"  -> (TextOps.sourceDivergence _),
    // t23 = temperature (α=0.5) source resampling — downsample-only
    // multinomial rebalance, md5-bucket deterministic keep decision.
    "t23_temp_resample"      -> (TextOps.temperatureResample _),
    // t24 = per-source Shannon entropy of the unigram distribution —
    // t22's in-source companion (degenerate/templated-source detector).
    "t24_source_entropy"     -> (TextOps.sourceEntropy _),
    // t25 = curriculum binning: per-source quality quartiles (ntile,
    // doc_id tiebreak) → the per-phase training manifest.
    "t25_curriculum"         -> (TextOps.curriculum _),
    // t26 = bigram-LM NLL with add-one smoothing — t20 with first-order
    // context (flags common words in impossible order).
    "t26_bigram_nll"         -> (TextOps.bigramLogProb _),
    // t27 = mixture-realization plan: largest downsample-only budget a
    // target ppm mixture admits, per-source allocation + binding source.
    "t27_mixture_plan"       -> (TextOps.mixturePlan _),
    // t28 = vocabulary-growth (Heaps-law) audit: cumulative vocab vs
    // tokens at doc-id deciles via token first-occurrence — the
    // corpus-saturation curve.
    "t28_vocab_growth"       -> (TextOps.vocabGrowth _),
    // t29 = source-pair Jaccard over distinct vocabularies — the
    // source-level near-duplicate matrix (drop the feed, not the docs).
    "t29_source_jaccard"     -> (TextOps.sourceJaccard _),
    // t30 = term-frequency spectrum + Good-Turing discounts: N_r per
    // frequency band, r* = (r+1)N_{r+1}/N_r — the unseen-mass audit
    // (singleton share) behind smoothing and coverage decisions.
    "t30_freq_spectrum"      -> (TextOps.freqSpectrum _),
    // t32 = the curation funnel: per source, how many docs (and
    // tokens) survive exact dedup -> near-dedup -> quality ->
    // decontamination, in pipeline order — the waterfall report the
    // mixture planner consumes.
    "t32_curation_funnel"    -> (TextOps.curationFunnel _),
    // t31 = t25's curriculum at 100 TB shape: phase boundaries from
    // broadcast approx-quantile cutpoints (no per-source rank window);
    // emits the exact manifest + a sketch-agreement gate (t07 pattern).
    "t31_curriculum_sketch"  -> (TextOps.curriculumSketch _),
    // t35 = quality-score calibration: per (source, quality quartile)
    // the quantized-cell median t20 NLL — the audit a mixing planner
    // reads before trusting quality-gated selection; quartiles and the
    // median both run the t54 bounded cell-histogram rank (no
    // per-source sort window, no unbounded percentile buffer).
    "t35_quality_calibration" -> (TextOps.qualityCalibration _),
    // t36 = PMI collocations: top word pairs by exact-rational PMI
    // ranking (BIGINT products, one IEEE divide — no log), c_ab ≥ 5
    // floor pruning before the vocabulary joins.
    "t36_pmi_collocations"   -> ((s, d) => TextOps.pmiCollocations(s, d)),
    // t37 = BM25 ranking for a fixed query — tf saturation + length
    // normalization over one corpus scan (no explode/shuffle for the
    // tfs; corpus constants are a one-row broadcast).
    "t37_bm25"               -> (TextOps.bm25Rank _),
    // t38 = Zipf OLS fit over the top-50 term frequencies — the sums
    // fold left-to-right over ONE rank-sorted array so the doubles are
    // bit-identical to the oracle's list_reduce replay.
    "t38_zipf_slope"         -> (TextOps.zipfSlope _),
    // t39 = Heaps-law fit over t28's decile growth curve — the
    // closed-vocabulary detector (β near 0 flags templated corpora).
    "t39_heaps_fit"          -> (TextOps.heapsFit _),
    // t40 = lang-id confusion matrix: t03's predictions vs declared
    // labels — the evaluation-harness reduction (counts + row shares).
    "t40_langid_confusion"   -> (TextOps.langIdConfusion _),
    // t41 = multi-suite decontamination with attribution: candidates
    // probe the UNION of labeled suite fingerprints in one pass.
    "t41_multi_suite_decontam" -> (TextOps.multiSuiteContamination _),
    // t42 = effective vocabulary exp(H) per source via the new
    // PlatformExp codegen expression (libm, DuckDB-exact).
    "t42_effective_vocab"    -> (TextOps.effectiveVocab _),
    // t43 = true BPE merge-table training: 20 deterministic greedy
    // merge rounds over the word vocabulary (ties lexicographic),
    // greedy left-to-right rewrite per round — the learned tokenizer
    // artifact, replayed by the oracle as chained MATERIALIZED CTEs.
    "t43_bpe_merges"         -> ((s, d) => TextOps.bpeMergeTable(s, d)),
    // t44 = the trained segmentation applied: per-word subword split
    // + frequency + subtoken count from the SAME loop's final state.
    "t44_bpe_segmentation"   -> ((s, d) => TextOps.bpeSegmentation(s, d)),
    // t45 = per-doc character entropy (sub-token gibberish filter),
    // the t24 segmented platform-ln fold applied per document.
    "t45_char_entropy"       -> (TextOps.charEntropy _),
    // t46 = trained-tokenizer budget efficiency per source (fertility
    // + compression) — the first downstream consumer of t43's BPE.
    "t46_bpe_efficiency"     -> ((s, d) => TextOps.bpeEfficiency(s, d)),
    // t47 = Flesch reading ease: vowel-group syllable heuristic, exact
    // BIGINT counts in the scan projection, one fixed IEEE expression.
    "t47_readability"        -> (TextOps.readability _),
    // t48 = split-leakage audit: d04 near-dup pairs crossing the t14
    // train/val/test hash split — near-dups of training docs in eval
    // inflate scores like verbatim contamination.
    "t48_split_leakage"      -> ((s, d) => TextOps.splitLeakage(s, d)),
    // t49 = DSIR importance weights: hashed-bigram log-likelihood
    // ratio of the English-slice target vs the raw corpus, add-one
    // smoothed; selected = more target-like than corpus-average.
    "t49_dsir_weights"       -> (TextOps.dsirWeights _),
    // t50 = memorization rate: per val/test doc, the fraction of its
    // distinct shingles already in the TRAIN slice (t48's
    // gram-granular companion).
    "t50_memorization_rate"  -> (TextOps.memorizationRate _),
    // t51 = Gopher duplicate-n-gram char fractions (2/3/4-grams),
    // verdict cross-multiplied on exact ints.
    "t51_gopher_rules"       -> (TextOps.gopherRules _),
    // t52 = lang x source chi-square: algebraized cell terms, pinned
    // fold, df integer — the stratification audit beside t22.
    "t52_lang_source_chi2"   -> (TextOps.langSourceChi2 _),
    // t53 = MATTR lexical diversity: complete 50-token windows, mean
    // algebraized to one exact-int divide per doc.
    "t53_mattr"              -> (TextOps.mattr _),
    // t54 = Jelinek-Mercer interpolated bigram LM perplexity filter
    // (the CCNet gate): reference-slice model, '<unk>' OOV mapping,
    // every ln argument an exact integer, median keep/drop.
    "t54_jm_quality_filter"  -> (TextOps.jmQualityFilter _),
    // t55 = A-ES weighted sampling: per-source top-k by u^(1/w) in log
    // space (integer ln args, md5-derived u, w = tokens) — the
    // rerun-stable weighted draw that realizes t27's mixture.
    "t55_weighted_sample"    -> ((s, d) => TextOps.weightedSample(s, d)),
    // t33 = PII detect + redact (email/phone/IPv4) — counts on the
    // original text, typed-placeholder redaction, all codegen regex;
    // runs over the deterministic planted-PII fixture (WavCodec
    // discipline: the corpus itself is digit-free) so the oracle
    // certifies counts and redacted bytes.
    "t33_pii_scan"           -> (TextOps.piiScanQuery _),
    "t15_length_hist"        -> (TextOps.lengthHistogram _),
    "t16_contamination"      -> (TextOps.contamination _),
    // t34 = t16 at span granularity: per contaminated doc the hit
    // POSITIONS (posexplode through the same broadcast gram probe) and
    // the covered-token scrub budget via gaps-and-islands — the cut
    // plan, not just the flag.
    "t34_span_decontam"      -> (TextOps.spanDecontamination _),
    "t17_repetition"         -> (TextOps.repetitionFilters _),
    // ---- multimodal binary columns (decode stubbed, plumbing real) ----
    "m01_media_meta"         -> (Multimodal.mediaMeta _),
    "m02_media_stats"        -> (Multimodal.mediaStats _),
    "m03_frame_sample"       -> (Multimodal.frameSample _),
    "m04_resize_plan"        -> (Multimodal.resizePlan _),
    // m05 is the REAL codec: PNG bytes through javax.imageio, decoded
    // dimensions + raster checksum oracle-checked against the generator
    // formula (a hash match proves the decode is bit-exact, not a stub).
    "m05_png_decode"         -> (Multimodal.pngDecodeMeta _),
    // m08 = perceptual hash (8x8 integer-exact aHash) computed from the
    // decoded PNG raster — image near-dup fingerprinting on real bytes.
    "m08_ahash"              -> (Multimodal.pngAHash _),
    // m21 = dHash (gradient hash) over the real decoded PNGs — the
    // brightness-invariant complement to m08's aHash; adjacent-cell
    // means compared via integer cross-multiplication.
    "m21_dhash"              -> (Multimodal.pngDHash _),
    // m22 = consensus near-dups: m11's aHash-banded pairs re-judged by
    // the dHash — both orthogonal signals must agree before a drop.
    "m22_consensus_dups"     -> ((s, d) => Multimodal.consensusDupPairs(s, d)),
    // m23 = zero-crossing rate over real decoded WAVs — order-exact
    // integer statistic; a reordered stream passes m06's plain sum but
    // fails this.
    "m23_zero_crossings"     -> (Multimodal.wavZeroCrossingRate _),
    // m24 = executed peak normalization through the real WAV codec —
    // the amplitude-domain chain (m19 is the time-domain one).
    "m24_wav_normalize"      -> ((s, d) => Multimodal.wavNormalize(s, d)),
    // m25 = keyframe manifest: one row per m20 scene with its first
    // frame and the run's (single) perceptual hash.
    "m25_keyframes"          -> (Multimodal.keyframes _),
    // m26 = ViT patch manifest: real-codec decode tiled into the 4×4
    // patch grid a vision transformer tokenizes; per-patch integer
    // sums with row-major position weights pin content AND order.
    "m26_vit_patches"        -> ((s, d) => Multimodal.vitPatches(s, d)),
    // m27 = video tubelets: m26 extended along time — 2×3×3 blocks
    // over the real GIF decode; position weights pin pixel AND frame
    // order inside each block.
    "m27_video_tubelets"     -> ((s, d) => Multimodal.videoTubelets(s, d)),
    // m28 = repeated patches: 4x4 patch content keys recurring in >=2
    // distinct images — sub-image boilerplate (the visual d20).
    "m28_repeated_patches"   -> ((s, d) => Multimodal.repeatedPatches(s, d)),
    // m29 = executed 2x linear upsample: decode -> interpolate ->
    // re-encode 16 kHz WAV -> decode; order pinned by the weighted
    // sum, truncating midpoints match DuckDB's // on negatives.
    "m29_wav_upsample"       -> (Multimodal.wavUpsample _),
    // m30 = pixel-histogram entropy computed INSIDE the decode slot
    // (integer-log fold in bin order; pixels never leave the codec).
    "m30_pixel_entropy"      -> (Multimodal.pixelEntropy _),
    // m31 = executed 90-degree rotation round-trip; pos_wsum pins
    // orientation where any multiset stat cannot.
    "m31_png_rotate"         -> (Multimodal.pngRotate _),
    // m32 = cross-modal Pearson r on exact-integer features off the
    // real codecs; numerators/denominators exact, r one IEEE chain.
    "m32_modality_corr"      -> (Multimodal.modalityCorrelation _),
    // m33 = decode-free magic-byte validation of every payload; the
    // oracle's literal contract row gates any malformed byte.
    "m33_payload_validation" -> (Multimodal.payloadValidation _),
    // m34 = temporal video alignment: modal frame offset per candidate
    // pair over the df-capped frame-digest index — "same clip, re-cut"
    // vs frame-set sharing, which m16's set Jaccard can't separate.
    "m34_video_alignment"    -> ((s, d) => Multimodal.videoAlignment(s, d)),
    // m09 = audio feature extraction: per-frame energy over the real
    // WAV decode (64-sample frames, integer-exact activity detection).
    "m09_wav_frames"         -> ((s, d) => Multimodal.wavFrameEnergy(s, d)),
    // m06 is the REAL audio codec: WAV PCM bytes through
    // javax.sound.sampled, decoded sample count + (position-weighted)
    // amplitude sums oracle-checked against the generator formula.
    "m06_wav_decode"         -> (Multimodal.wavDecodeMeta _),
    // m07 is the REAL video codec: multi-frame animated GIF through
    // javax.imageio, decoded frame count + frame-order-weighted raster
    // sums oracle-checked against the generator formula.
    "m07_gif_frames"         -> (Multimodal.gifDecodeMeta _),
    // m10 = EXECUTED resize over the real codec: decode → 2× box
    // downsample → re-encode → decode, position-weighted checksum.
    "m10_png_resize"         -> (Multimodal.pngResize _),
    // m11 = image near-dup pairs: m08's real-byte aHashes through the
    // d09 banding discipline (4×16-bit bands, Hamming ≤ 2 verify).
    "m11_image_dups"         -> ((s, d) => Multimodal.imageDupPairs(s, d)),
    // m12 = image dedup end-to-end: m11's pairs clustered by connected
    // components (d11's loop), reported d19-style with REAL decoded
    // pixels charged to each dropped member.
    "m12_image_dedup_report" -> (Multimodal.imageDedupReport _),
    // m13 = incremental image dedup: the new-arrivals slice (d14's
    // doc_id%5==0 convention) probes the historical m08 aHash sidecar
    // via band join + Hamming verify — the batch form the streaming
    // image-dedup job composes to.
    "m13_incremental_image"  -> (Multimodal.incrementalImageDedup _),
    // m14 = audio nearest-neighbor: per probe clip the closest clip in
    // its duration class by integer L1 over m09-style frame-energy
    // fingerprints — the audio twin of the m11 image near-dup probe.
    // s16 = mutual-kNN clustering: connected components over the
    // MUTUAL edges of the s14 graph (a names b AND b names a) — the
    // density-filtered semantic grouping a pipeline runs over a
    // materialized kNN graph.
    "s16_mutual_knn"         -> ((s, d) => Similarity.mutualKnnClusters(s, d)),
    // s15 = one distributed Lloyd iteration over the IVF assignment:
    // per (cell, dim) the seed vs re-trained centroid value + cell
    // population — the codebook-training step the IVF family defers to,
    // deterministic via vec_id-segmented ordered folds.
    "s15_kmeans_step"        -> (Similarity.kmeansStep _),
    // s17 = TWO Lloyd iterations from the deterministic seed under the
    // hash oracle — the same lloydIter the full kmeansTrain loop runs,
    // so the training step is certified by composition; every double
    // (assignment metric, means, SSE) is an in-order fold, bit-exact
    // cross-engine.
    "s17_kmeans_two_step"    -> ((s, d) => Similarity.kmeansTwoStep(s, d)),
    // s18 = graph-navigated ANN: beam search over the mutual-kNN edge
    // sidecar seeded by the IVF probe (fixed beam 3, 3 unrolled
    // rounds, cosine/id ranking throughout) — the HNSW-style serving
    // family, reachable neighbors beyond the probe cell.
    "s18_graph_beam"         -> ((s, d) => Similarity.graphBeamKnn(s, d)),
    // s19 = IVF serving on the TRAINED codebook (two certified Lloyd
    // iterations, shared with s17): re-assign by cosine to the
    // adapted centroids, probe the query's cell — train → serve,
    // the production loop closed under the oracle.
    "s19_trained_ivf"        -> ((s, d) => Similarity.ivfTrainedKnn(s, d)),
    // s21 = tombstone-aware serving: the s04 probe with the deletion
    // slice anti-joined BEFORE the rank window — deleted vectors never
    // resurface and ranks close up from the same cell.
    "s21_tombstone_knn"      -> ((s, d) => Similarity.tombstoneIvfKnn(s, d)),
    // s20 = filtered vector search: same-label top-5 through a 2-probe
    // IVF (probe widened BEFORE the label filter, never post-filtered)
    // — deterministic, oracle replays the whole probe.
    "s20_filtered_knn"       -> ((s, d) => Similarity.filteredIvfKnn(s, d)),
    // s22 = ANN index upsert (s21's missing half): arrivals between
    // rebuilds (vec_id ≡ 2 mod 7) cell-assigned by the exact s04
    // argmax over the FROZEN historical codebook, each served its
    // first query — top-5 within its cell from the historical index.
    "s22_ivf_upsert"         -> ((s, d) => Similarity.ivfUpsertServe(s, d)),
    // s23 = PQ upsert serve (s22 on the codes half of IVF-PQ):
    // arrivals ADC-probe the historical code table via distance
    // tables over the frozen (gapped) historical subspace codebook.
    "s23_pq_upsert"          -> ((s, d) => Similarity.pqUpsertServe(s, d)),
    // s24 = radius (range) search: ALL neighbors with cosine ≥ τ from
    // the query's two probed cells — the ANN query shape top-k serving
    // doesn't cover; τ filters inside the probe, before the rank.
    "s24_radius_search"      -> ((s, d) => Similarity.radiusSearch(s, d)),
    // s25 = signed-random-projection LSH: md5-seeded ±1 planes over
    // integer-quantized coordinates → 16-bit signatures, Hamming-
    // ranked top-8 (exact int arithmetic end to end, no trained
    // index to ship).
    "s25_srp_hamming"        -> ((s, d) => Similarity.srpHammingKnn(s, d)),
    // s26 = SRP index upsert: arrivals (vec_id ≡ 2 mod 7) hash under
    // the frozen md5 seed and Hamming-serve against history only —
    // append == rebuild exactly, no stored model.
    "s26_srp_upsert"         -> ((s, d) => Similarity.srpUpsertServe(s, d)),
    // s27 = banded SRP: 4×4-bit bands turn candidate generation into
    // an equi-join on (band, value) — the scale path past s25's scan.
    "s27_srp_banded"         -> ((s, d) => Similarity.srpBandedKnn(s, d)),
    // s28 = SQ upsert: frozen-range encode with CLIPPED out-of-range
    // arrivals and an n_clipped drift meter; integer code-dot serving.
    "s28_sq_upsert"          -> ((s, d) => Similarity.sqUpsertServe(s, d)),
    // s32 = reciprocal-rank fusion of the IVF and SRP arms: the
    // hybrid-search combiner — rank-only scoring needs no cross-arm
    // score calibration; fixed-order two-term IEEE sum, id tie-breaks.
    "s32_rrf_fusion"         -> ((s, d) => Similarity.rrfFusion(s, d)),
    // s33 = cross-family serving-cost audit: candidates scanned vs
    // recall@5 for brute/IVF/banded-SRP — the index-choice table
    // (s11/s31 sweep within a family; this compares between them).
    "s33_serving_cost"       -> (Similarity.servingCostAudit _),
    // s29 = k-center greedy coreset: farthest-point sampling on cosine
    // distance — the diversity-selection op (dedup's complement); the
    // selection trace reports coverage at each pick.
    "s29_kcenter_coreset"    -> ((s, d) => Similarity.kcenterCoreset(s, d)),
    // s30 = MMR diversified rerank: relevance minus redundancy over a
    // constant ANN shortlist, driver greedy (the s29 pattern).
    "s30_mmr_rerank"         -> ((s, d) => Similarity.mmrRerank(s, d)),
    // s35 = intra-list similarity audit: the diversity s30's lambda
    // buys vs the brute list, with the relevance give-up beside it.
    "s35_ils_audit"          -> ((s, d) => Similarity.ilsAudit(s, d)),
    // s36 = embedding health: per-dim moments on floor(x*1e4) ints,
    // variance numerator exact, two final divides.
    "s36_embedding_health"   -> (Similarity.embeddingHealth _),
    // s37 = IVF cell-imbalance audit: the skew number that triggers
    // s12's rebalance; max*K vs 2*N cross-multiplied.
    "s37_cell_imbalance"     -> (Similarity.cellImbalance _),
    // s38 = PSI embedding drift: per dim the population stability
    // index of arrivals vs history over 8 history-frozen bins — the
    // distribution check behind the s22/s28 frozen-model assumption.
    "s38_embedding_drift"    -> (Similarity.embeddingDrift _),
    // s31 = nprobe recall sweep: the coarse-probe tuning curve
    // (s11 sweeps shortlist width; this sweeps probed cells).
    "s31_nprobe_sweep"       -> (Similarity.ivfNprobeSweep _),
    "m14_audio_nn"           -> (Multimodal.audioNearestNeighbor _),
    // m18 = incremental audio dedup: arriving clips (d14 slice) probe
    // the historical frame-energy fingerprint index by duration class,
    // integer-L1 nearest match — completes the incremental-probe
    // family across all four media modalities.
    "m18_incremental_audio"  -> (Multimodal.incrementalAudioDedup _),
    // m15 = video frame-level dedup: per-frame aHash over the real GIF
    // decode, digest-keyed repeated-scene report across videos (the
    // d20 span discipline on the third modality; no pair join).
    "m15_video_frame_dedup"  -> (Multimodal.videoFrameDedup _),
    // m16 = sequence-aware video near-dups: consecutive frame-hash
    // 2-grams as shingles (d04/d12 discipline on the video modality),
    // df-capped band join, shingle Jaccard >= 0.5; shares m15's
    // one-decode-per-session frame-hash sidecar.
    "m16_video_seq_neardup"  -> ((s, d) => Multimodal.videoSequenceNearDups(s, d)),
    // m17 = incremental video dedup: arriving videos (d14 slice) probe
    // the historical frame-digest index — known-frame fraction +
    // earliest carrier per arrival; completes the incremental-probe
    // trio across text/image/video; shares the one-decode sidecar.
    "m17_incremental_video"  -> (Multimodal.incrementalVideoDedup _),
    "t12_normalize"          -> (TextOps.normalizeText _),
  )

  /** DuckDB-runnable oracle for each query (same tables, same column
    * names, same ORDER BY). Money math is exact DECIMAL → DOUBLE on both
    * sides so hashes match bit-for-bit.
    */
  def oracleSql: Map[String, String] = {
    val disc = "CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,3)))"
    Map(
      "p01_entity_count" -> graft.pipeline.EntityPipeline.oracle,
      "p02_typed_entities" -> graft.pipeline.EntityPipeline.typedOracle,
      "p03_entity_spans" -> graft.pipeline.EntityPipeline.spansOracle,
      "p04_entity_cooccur" -> graft.pipeline.EntityPipeline.cooccurOracle,
      "q01_pricing_summary" -> s"""
        SELECT l_returnflag, l_linestatus,
          count(*) AS n_rows,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base,
          CAST(CAST(sum($disc) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
          CAST(CAST(sum($disc * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,3)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
          CAST(CAST(sum(CAST(l_discount AS DECIMAL(4,3))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
      "q02_top_orders" -> s"""
        SELECT l_orderkey, o_orderdate, CAST(CAST(sum($disc) AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate  > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10""",
      "q03_region_revenue" -> s"""
        SELECT r_name, n_name, CAST(CAST(sum($disc) AS VARCHAR) AS DOUBLE) AS revenue, count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN supplier ON l_suppkey  = s_suppkey AND s_nationkey = c_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY r_name, n_name ORDER BY revenue DESC, n_name""",
      "q04_brand_volume" -> """
        SELECT p_brand, count(*) AS n_items,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""",
      "q05_topk_per_customer" -> """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""",
      "q06_top_lineitems" -> """
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""",
      "q07_set_ops" -> """
        SELECT DISTINCT c_custkey FROM (
          (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
          UNION
          (SELECT c_custkey FROM customer WHERE c_acctbal > 5000
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')) t
        ORDER BY c_custkey""",
      "q08_rollup" -> """
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
      "q09_distinct_counts" -> """
        SELECT l_returnflag,
          count(DISTINCT l_partkey) AS n_parts,
          count(DISTINCT l_suppkey) AS n_supps,
          count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      "q10_customers_without_f" -> """
        SELECT c_mktsegment, count(*) AS n_customers FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      "q11_priority_breakdown" -> """
        SELECT o_orderpriority, count(*) AS n_orders,
          CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
          CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large,
          CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      "q12_running_supplier" -> """
        SELECT l_suppkey, l_orderkey, l_linenumber,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
               OVER (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_qty
        FROM lineitem WHERE l_suppkey <= 5
        ORDER BY l_suppkey, l_orderkey, l_linenumber""",
      "q13_cube" -> """
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
      "q14_percentiles" -> """
        SELECT l_returnflag,
          quantile_cont(l_quantity, 0.25) AS q25,
          quantile_cont(l_quantity, 0.5) AS median,
          quantile_cont(l_quantity, 0.75) AS q75,
          quantile_cont(l_extendedprice, 0.9) AS price_p90
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      "q15_part_strings" -> """
        SELECT p_partkey, upper(p_type) AS type_upper,
          substr(p_name, 1, 8) AS name_prefix,
          regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
          length(p_name) AS name_len,
          CAST(levenshtein(p_type, 'STANDARD') AS BIGINT) AS type_dist
        FROM part ORDER BY p_partkey""",
      "q16_above_avg" -> """
        SELECT c_mktsegment, count(*) AS n,
          CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*) AS seg_avg
        FROM customer
        WHERE c_acctbal > (SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / count(*)
                           FROM customer)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      "q17_pivot" -> """
        SELECT o_orderstatus,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
          CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
          CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
          CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS unspecified,
          CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
      "q18_quarters" -> """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
          CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
          count(*) AS n_orders,
          CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",
      "q19_grouping_sets" -> """
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
      // e21: exact hourly uniques via the same two-level rewrite; the
      // sketch arm is engine-specific, so the checked surface is the
      // exact counts + the tolerance flag (the t07 convention).
      // e23: hour-of-day matrix with identical window orderings.
      // e26: the oracle's single global running max replays the
      // range-composed prefix max exactly (max is order-free).
      "e26_watermark_audit" -> """
        WITH l AS (SELECT event_id, epoch_us(ts) AS us,
            max(epoch_us(ts)) OVER (ORDER BY event_id
                                    ROWS UNBOUNDED PRECEDING) AS runmax
          FROM events)
        SELECT count(*) AS n_events,
          CAST(sum(CASE WHEN runmax - us > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_1m,
          CAST(sum(CASE WHEN runmax - us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_10m,
          CAST(sum(CASE WHEN runmax - us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_1h,
          CAST(max(runmax - us) // 1000000 AS BIGINT) AS max_late_s
        FROM l""",
      // e28: lead over (ts, event_id) like e14/e24; the t45 entropy
      // CTE shape with segment folds in (term-within-seg, seg) order.
      "e28_transition_entropy" -> """
        WITH tr AS (
          SELECT user_id,
            event_type || '>' || lead(event_type)
              OVER (PARTITION BY user_id ORDER BY ts, event_id) AS term
          FROM events),
        ct AS (SELECT user_id, term, count(*) AS c FROM tr
               WHERE term IS NOT NULL GROUP BY 1, 2),
        c2 AS (SELECT user_id, term, c,
                 CAST(('0x' || substr(md5(term), 1, 2)) AS BIGINT) AS seg,
                 CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS contrib
               FROM ct),
        segs AS (SELECT user_id, seg, count(*) AS n_keys_seg,
                   CAST(sum(c) AS BIGINT) AS n_seg,
                   list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS f_seg
                 FROM c2 GROUP BY 1, 2),
        agg AS (SELECT user_id, CAST(sum(n_keys_seg) AS BIGINT) AS n_distinct,
                  CAST(sum(n_seg) AS BIGINT) AS n_trans,
                  list_reduce(list(f_seg ORDER BY seg), (a, b) -> a + b) AS s_clnc
                FROM segs GROUP BY 1)
        SELECT user_id, n_distinct, n_trans,
          ln(CAST(n_trans AS DOUBLE)) - s_clnc / CAST(n_trans AS DOUBLE) AS entropy,
          CASE WHEN n_distinct > 1
               THEN (ln(CAST(n_trans AS DOUBLE)) - s_clnc / CAST(n_trans AS DOUBLE))
                 / ln(CAST(n_distinct AS DOUBLE))
               ELSE 0.0 END AS norm_entropy
        FROM agg ORDER BY user_id""",
      // e27: the same ×7 coverage explode — a (day, user) activity row
      // covers report days [day, day+6]; WAU at d = distinct covering
      // users; report days restricted to active days (inner join).
      "e27_stickiness" -> """
        WITH du AS (
          SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i,
            user_id
          FROM events),
        dau AS (SELECT day_i, count(*) AS dau FROM du GROUP BY 1),
        cov AS (
          SELECT DISTINCT du.day_i + o.off AS day_i, du.user_id
          FROM du, (SELECT unnest(generate_series(0, 6)) AS off) o),
        wau AS (SELECT day_i, count(*) AS wau FROM cov GROUP BY 1)
        SELECT DATE '1970-01-01' + CAST(dau.day_i AS INTEGER) AS day,
          dau.dau, wau.wau,
          CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
        FROM dau JOIN wau ON dau.day_i = wau.day_i
        ORDER BY day""",
      // e24: gaps from exact µs epochs, integer-divided to seconds
      // (both engines truncate nonnegative division); the bursty flag
      // and every rollup column are pure BIGINT algebra.
      "e24_interarrival" -> """
        WITH g AS (
          SELECT user_id,
            (epoch_us(ts)
             - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)) // 1000000
              AS gap_s
          FROM events),
        pu AS (
          SELECT user_id, count(*) AS n_gaps, sum(gap_s) AS s_gap,
            sum(gap_s * gap_s) AS ss_gap, max(gap_s) AS max_gap
          FROM g WHERE gap_s IS NOT NULL GROUP BY 1),
        pb AS (
          SELECT n_gaps, s_gap, max_gap,
            CASE WHEN n_gaps * ss_gap >= 2 * s_gap * s_gap
                 THEN 1 ELSE 0 END AS bursty,
            CASE WHEN n_gaps < 16 THEN 'lt16'
                 WHEN n_gaps < 64 THEN '16to63'
                 WHEN n_gaps < 256 THEN '64to255'
                 ELSE 'ge256' END AS band
          FROM pu)
        SELECT band, count(*) AS n_users,
          CAST(sum(bursty) AS BIGINT) AS n_bursty,
          CAST(sum(n_gaps) AS BIGINT) AS total_gaps,
          CAST(sum(s_gap) AS BIGINT) AS total_gap_s,
          max(max_gap) AS max_gap_s
        FROM pb GROUP BY band ORDER BY band""",
      // e25: e03's islands CTE reduced to per-session DISTINCT types;
      // the pair join fans out at most |types|^2 per session.
      "e25_session_lift" -> """
        WITH marked AS (
          SELECT user_id, ts, event_id, event_type,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '10 minutes'
                 THEN 1 ELSE 0 END AS new_s
          FROM events),
        numbered AS (
          SELECT user_id, ts, event_type,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked),
        st AS (
          SELECT DISTINCT user_id, sid, event_type FROM numbered),
        ns AS (
          SELECT count(*) AS n_sessions
          FROM (SELECT DISTINCT user_id, sid FROM st)),
        pt AS (
          SELECT event_type, count(*) AS n_type FROM st GROUP BY 1)
        SELECT a.event_type AS type_a, b.event_type AS type_b,
          count(*) AS n_both,
          min(pa.n_type) AS n_a, min(pb.n_type) AS n_b,
          min(ns.n_sessions) AS n_sessions,
          (count(*) * min(ns.n_sessions) > min(pa.n_type) * min(pb.n_type))
            AS positive
        FROM st a
        JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
                  AND a.event_type < b.event_type
        JOIN pt pa ON pa.event_type = a.event_type
        JOIN pt pb ON pb.event_type = b.event_type
        CROSS JOIN ns
        GROUP BY 1, 2 ORDER BY type_a, type_b""",
      "e23_hourly_profile" -> """
        WITH m AS (
          SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hod,
            count(*) AS n_events
          FROM events GROUP BY 1, 2)
        SELECT event_type, hod, n_events,
          CAST(n_events AS DOUBLE)
            / CAST(sum(n_events) OVER (PARTITION BY event_type) AS DOUBLE)
            AS share,
          CAST(row_number() OVER (PARTITION BY event_type
                                  ORDER BY n_events DESC, hod) AS BIGINT)
            AS hod_rank
        FROM m ORDER BY event_type, hod""",
      // e22: e03's gaps-and-islands session rewrite, then each session
      // densifies to its covered hours via generate_series.
      "e22_concurrency" -> """
        WITH marked AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '10 minutes'
                 THEN 1 ELSE 0 END AS new_s
          FROM events),
        numbered AS (
          SELECT user_id, ts,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked),
        sess AS (
          SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
          FROM numbered GROUP BY user_id, sid),
        hrs AS (
          SELECT user_id,
            unnest(generate_series(date_trunc('hour', s_start),
                                   date_trunc('hour', s_end),
                                   INTERVAL 1 hour)) AS hour
          FROM sess)
        SELECT CAST(hour AS TIMESTAMP) AS hour, count(*) AS n_sessions,
          count(DISTINCT user_id) AS n_users
        FROM hrs GROUP BY hour ORDER BY hour""",
      "e21_hourly_uniques" -> """
        WITH p AS (SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)
                     AS window_start, user_id, count(*) AS n
                   FROM events GROUP BY 1, 2)
        SELECT window_start, count(*) AS n_users,
          CAST(sum(n) AS BIGINT) AS n_events, TRUE AS within_tol
        FROM p GROUP BY window_start ORDER BY window_start""",
      "e01_tumbling" -> """
        SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start, event_type,
          count(*) AS n,
          CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
      // e16: the e01 day-bucketed counts cut to rank<=3 per day with
      // the exact integer-division share.
      "e16_windowed_topk" -> """
        WITH d AS (SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP) AS day,
                     event_type, count(*) AS n
                   FROM events GROUP BY 1, 2),
        r AS (SELECT day, event_type, n,
                CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS day_total,
                row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rnk
              FROM d)
        SELECT day, CAST(rnk AS BIGINT) AS rnk, event_type, n,
          CAST(n AS DOUBLE) / CAST(day_total AS DOUBLE) AS share
        FROM r WHERE rnk <= 3 ORDER BY day, rnk""",
      "e02_sliding" -> """
        SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type, count(*) AS n FROM (
          SELECT event_type,
            unnest([time_bucket(INTERVAL '30 minutes', ts),
                    time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
          FROM events) t
        GROUP BY 1, 2 ORDER BY 1, 2""",
      "e03_sessions" -> """
        WITH marked AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '10 minutes'
                 THEN 1 ELSE 0 END AS new_s
          FROM events),
        numbered AS (
          SELECT user_id, ts,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked)
        SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start, count(*) AS n
        FROM numbered GROUP BY user_id, sid ORDER BY user_id, session_start""",
      // e18: e03's gaps-and-islands sessionization carrying type/value
      // through; decimal sum -> VARCHAR -> DOUBLE per the q01/DuckDB
      // rounding discipline.
      // e20: the e18 gaps-and-islands session CTE, aggregated once
      // more per user; the conversion rate is an exact BIGINT/BIGINT
      // divide on both sides.
      "e20_user_engagement" -> """
        WITH marked AS (
          SELECT user_id, ts, event_id, event_type,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '10 minutes'
                 THEN 1 ELSE 0 END AS new_s
          FROM events),
        numbered AS (
          SELECT user_id, ts, event_type,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked),
        sess AS (
          SELECT user_id, sid, count(*) AS n_events,
            epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS hp
          FROM numbered GROUP BY user_id, sid)
        SELECT user_id, count(*) AS n_sessions,
          CAST(sum(n_events) AS BIGINT) AS n_events,
          CAST(sum(duration_us) AS BIGINT) AS total_duration_us,
          CAST(sum(hp) AS BIGINT) AS n_purchase_sessions,
          CAST(CAST(sum(hp) AS BIGINT) AS DOUBLE) / count(*) AS conv_rate
        FROM sess GROUP BY user_id ORDER BY user_id""",
      "e18_session_features" -> """
        WITH marked AS (
          SELECT user_id, ts, event_id, event_type, value,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '10 minutes'
                 THEN 1 ELSE 0 END AS new_s
          FROM events),
        numbered AS (
          SELECT user_id, ts, event_type, value,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked)
        SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
          count(*) AS n_events,
          epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
          CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 AS has_purchase,
          CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        FROM numbered GROUP BY user_id, sid ORDER BY user_id, session_start""",
      "e04_json_stats" -> """
        SELECT event_type, count(*) AS n,
          CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
          CAST(CAST(sum(k) AS BIGINT) AS DOUBLE) / count(k) AS avg_k
        FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events) t
        GROUP BY event_type ORDER BY event_type""",
      "e05_asof_attribution" -> """
        SELECT p.event_id AS purchase_id, p.user_id, s.event_id AS signup_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON p.user_id = s.user_id AND p.ts >= s.ts
        ORDER BY purchase_id""",
      "e06_first_events" -> """
        SELECT event_id, user_id, event_type, value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts, event_id) AS rn
          FROM events) t
        WHERE rn = 1 ORDER BY event_id""",
      "e07_type_shares" -> """
        SELECT event_type, count(*) AS n,
          CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share
        FROM events GROUP BY event_type ORDER BY event_type""",
      // e32: daily cohort CTE pooled over calendar-observable cohorts;
      // every ln argument an integer count, OLS a fixed literal form.
      "e32_retention_decay" -> """
        WITH first AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
                       FROM events GROUP BY user_id),
        active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                   FROM events),
        ret AS (SELECT f.cohort_day,
                  CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS age,
                  count(DISTINCT a.user_id) AS n_users
                FROM active a JOIN first f ON a.user_id = f.user_id
                GROUP BY f.cohort_day, age),
        horizon AS (SELECT max(day) AS last_day FROM active),
        pooled AS (SELECT age, CAST(sum(n_users) AS BIGINT) AS num
                   FROM ret, horizon
                   WHERE date_diff('day', cohort_day, last_day) >= 3
                     AND age <= 3 GROUP BY age),
        row_w AS (SELECT
                    max(CASE WHEN age = 0 THEN num END) AS den,
                    max(CASE WHEN age = 1 THEN num END) AS n1,
                    max(CASE WHEN age = 2 THEN num END) AS n2,
                    max(CASE WHEN age = 3 THEN num END) AS n3
                  FROM pooled),
        ys AS (SELECT den, n1, n2, n3,
                 ln(CAST(n1 AS DOUBLE)) - ln(CAST(den AS DOUBLE)) AS y1,
                 ln(CAST(n2 AS DOUBLE)) - ln(CAST(den AS DOUBLE)) AS y2,
                 ln(CAST(n3 AS DOUBLE)) - ln(CAST(den AS DOUBLE)) AS y3
               FROM row_w),
        fit AS (SELECT *,
                  (CAST(3.0 AS DOUBLE) * (y1 + CAST(2.0 AS DOUBLE) * y2 + CAST(3.0 AS DOUBLE) * y3)
                   - CAST(6.0 AS DOUBLE) * (y1 + y2 + y3)) / CAST(6.0 AS DOUBLE) AS slope
                FROM ys)
        SELECT den, n1, n2, n3, y1, y2, y3, slope,
          ((y1 + y2 + y3) - slope * CAST(6.0 AS DOUBLE)) / CAST(3.0 AS DOUBLE) AS intercept,
          CASE WHEN slope < 0.0
            THEN -ln(CAST(2.0 AS DOUBLE)) / slope END AS half_life_days
        FROM fit ORDER BY den""",
      // e35: peak day by (volume desc, day), integer excess, one
      // divide for lift; top-10 with full tiebreak.
      "e35_spike_attribution" -> """
        WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        daily AS (SELECT day, CAST(count(*) AS BIGINT) AS t_day
                  FROM ev GROUP BY day),
        tot AS (SELECT CAST(sum(t_day) AS BIGINT) AS n_total FROM daily),
        peak AS (SELECT day, t_day FROM daily ORDER BY t_day DESC, day LIMIT 1),
        ut AS (SELECT user_id, CAST(count(*) AS BIGINT) AS u_total
               FROM ev GROUP BY user_id),
        dayc AS (SELECT p.day, p.t_day, e.user_id,
                   CAST(count(*) AS BIGINT) AS n_day
                 FROM ev e JOIN peak p ON e.day = p.day
                 GROUP BY p.day, p.t_day, e.user_id)
        SELECT d.day, d.user_id, d.n_day, u.u_total, d.t_day, t.n_total,
          CAST(d.n_day * t.n_total - u.u_total * d.t_day AS BIGINT) AS excess_num,
          CAST(d.n_day * t.n_total AS DOUBLE)
            / CAST(u.u_total * d.t_day AS DOUBLE) AS lift
        FROM dayc d JOIN ut u ON d.user_id = u.user_id CROSS JOIN tot t
        ORDER BY excess_num DESC, d.user_id LIMIT 10""",
      // e34: md5-bucketed 4x64 CMS replayed; min over the four
      // counters, everything exact BIGINTs.
      "e34_heavy_hitters" -> """
        WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                   FROM events GROUP BY user_id),
        e AS (SELECT user_id, c, i,
                CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                  CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS j
              FROM c, (SELECT unnest(generate_series(0, 3)) AS i) ii),
        cms AS (SELECT i, j, CAST(sum(c) AS BIGINT) AS cnt FROM e GROUP BY i, j),
        top AS (SELECT user_id, c AS exact FROM c ORDER BY c DESC, user_id LIMIT 10)
        SELECT t.user_id, t.exact, CAST(min(cms.cnt) AS BIGINT) AS est,
          CAST(min(cms.cnt) - t.exact AS BIGINT) AS over_est
        FROM top t
        JOIN e ON e.user_id = t.user_id
        JOIN cms ON cms.i = e.i AND cms.j = e.j
        GROUP BY t.user_id, t.exact
        ORDER BY t.exact DESC, t.user_id""",
      // e33: global rank by (count, user_id); exact-integer Gini
      // numerator, one final IEEE divide.
      "e33_activity_gini" -> """
        WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
        r AS (SELECT c, CAST(row_number() OVER (ORDER BY c, user_id) AS BIGINT) AS rk
              FROM c),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                CAST(sum(c) AS BIGINT) AS n_events,
                CAST(sum((2 * rk - (SELECT count(*) + 1 FROM c)) * c) AS BIGINT)
                  AS gini_num
              FROM r)
        SELECT n_users, n_events, gini_num,
          CAST(gini_num AS DOUBLE) / CAST(n_users * n_events AS DOUBLE) AS gini
        FROM t""",
      // e31: the same all-integer CUSUM chain; argmax ties break to
      // the earliest day in both engines.
      "e31_changepoints" -> """
        WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS d,
                         count(*) AS c
                       FROM events GROUP BY 1, 2),
        tot AS (SELECT event_type, count(*) AS n_days,
                  CAST(sum(c) AS BIGINT) AS n_events
                FROM daily GROUP BY 1),
        cu AS (SELECT daily.event_type, d, n_days, n_events,
                 CAST(sum(c) OVER (PARTITION BY daily.event_type ORDER BY d)
                   AS BIGINT) AS pref,
                 CAST(row_number() OVER (PARTITION BY daily.event_type ORDER BY d)
                   AS BIGINT) AS t_idx
               FROM daily JOIN tot ON daily.event_type = tot.event_type),
        sx AS (SELECT *, n_days * pref - t_idx * n_events AS s_t,
                 abs(n_days * pref - t_idx * n_events) AS abs_s FROM cu),
        r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY abs_s DESC, d) AS rk FROM sx)
        SELECT event_type, n_days, n_events, d AS peak_day, t_idx AS peak_t,
          s_t AS peak_s, abs_s AS peak_abs,
          (20 * abs_s > n_days * n_events) AS shifted
        FROM r WHERE rk = 1 ORDER BY event_type""",
      // e30: all-BIGINT lag products off the sparse (type, hour)
      // aggregate (zero hours vanish as 0·x); one exact-int divide.
      "e30_periodicity" -> """
        WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
                     count(*) AS c
                   FROM events GROUP BY 1, 2),
        lag1 AS (SELECT a.event_type,
                   CAST(sum(CASE WHEN b.h = a.h + 1 THEN a.c * b.c ELSE 0 END) AS BIGINT) AS r1,
                   CAST(sum(CASE WHEN b.h = a.h + 23 THEN a.c * b.c ELSE 0 END) AS BIGINT) AS r23,
                   CAST(sum(CASE WHEN b.h = a.h + 24 THEN a.c * b.c ELSE 0 END) AS BIGINT) AS r24,
                   CAST(sum(CASE WHEN b.h = a.h + 25 THEN a.c * b.c ELSE 0 END) AS BIGINT) AS r25
                 FROM c a JOIN c b ON a.event_type = b.event_type
                   AND b.h BETWEEN a.h + 1 AND a.h + 25
                 GROUP BY a.event_type),
        base AS (SELECT event_type, count(*) AS n_hours,
                   CAST(sum(c) AS BIGINT) AS n_events,
                   CAST(sum(c * c) AS BIGINT) AS r0
                 FROM c GROUP BY event_type)
        SELECT base.event_type, n_hours, n_events, r0,
          COALESCE(r1, 0) AS r1, COALESCE(r23, 0) AS r23,
          COALESCE(r24, 0) AS r24, COALESCE(r25, 0) AS r25,
          CAST(COALESCE(r24, 0) AS DOUBLE) / CAST(r0 AS DOUBLE) AS score24,
          (COALESCE(r24, 0) > COALESCE(r23, 0) AND
           COALESCE(r24, 0) > COALESCE(r25, 0)) AS daily_peak
        FROM base LEFT JOIN lag1 ON base.event_type = lag1.event_type
        ORDER BY base.event_type""",
      // e29: NULLS FIRST pins DuckDB's ASC sort to Spark's default.
      "e29_attribution_outer" -> """
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
                   FROM events WHERE event_type = 'purchase'),
        su AS (SELECT user_id AS s_user_id, ts AS s_ts, event_id AS signup_id
               FROM events WHERE event_type = 'signup')
        SELECT p.purchase_id, p.user_id, su.signup_id
        FROM p LEFT JOIN su ON p.user_id = su.s_user_id
          AND su.s_ts <= p.p_ts AND su.s_ts > p.p_ts - INTERVAL 7 DAY
        ORDER BY purchase_id, signup_id NULLS FIRST""",
      "e10_range_join" -> """
        WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
                   FROM events WHERE event_type = 'purchase'),
        su AS (SELECT user_id, ts AS s_ts, event_id AS signup_id
               FROM events WHERE event_type = 'signup')
        SELECT p.purchase_id, p.user_id, su.signup_id
        FROM p JOIN su ON p.user_id = su.user_id
        WHERE su.s_ts <= p.p_ts AND su.s_ts > p.p_ts - INTERVAL 7 DAY
        ORDER BY purchase_id, signup_id""",
      "e11_funnel" -> """
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN s1 ON e.user_id = s1.user_id
               WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN s2 ON e.user_id = s2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        SELECT count(s1.t1) AS view_users, count(s2.t2) AS click_users,
          count(s3.t3) AS purchase_users,
          CAST(sum(CASE WHEN s2.t2 IS NOT NULL
                        THEN epoch_us(s2.t2) - epoch_us(s1.t1) END) AS BIGINT)
            AS sum_view_to_click_us,
          CAST(sum(CASE WHEN s3.t3 IS NOT NULL
                        THEN epoch_us(s3.t3) - epoch_us(s2.t2) END) AS BIGINT)
            AS sum_click_to_purchase_us
        FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                LEFT JOIN s3 ON s1.user_id = s3.user_id""",
      // e19: e11's stage CTEs, per-user lags, quantile_cont (the q14
      // convention).
      "e19_funnel_lags" -> """
        WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN s1 ON e.user_id = s1.user_id
               WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN s2 ON e.user_id = s2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
        lags AS (SELECT 'view_to_click' AS stage,
                   epoch_us(s2.t2) - epoch_us(s1.t1) AS lag_us
                 FROM s1 JOIN s2 ON s1.user_id = s2.user_id
                 UNION ALL
                 SELECT 'click_to_purchase' AS stage,
                   epoch_us(s3.t3) - epoch_us(s2.t2) AS lag_us
                 FROM s2 JOIN s3 ON s2.user_id = s3.user_id)
        SELECT stage, count(*) AS n_users,
          quantile_cont(lag_us, 0.5) AS p50_us,
          quantile_cont(lag_us, 0.9) AS p90_us
        FROM lags GROUP BY stage ORDER BY stage""",
      "e12_retention" -> """
        WITH first AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
                       FROM events GROUP BY user_id),
        active AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
                   FROM events)
        SELECT f.cohort_week,
          CAST(date_diff('day', f.cohort_week, a.week) // 7 AS BIGINT) AS week_age,
          count(DISTINCT a.user_id) AS n_users
        FROM active a JOIN first f ON a.user_id = f.user_id
        GROUP BY f.cohort_week, week_age
        ORDER BY cohort_week, week_age""",
      "e13_anomalies" -> """
        WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour_start,
                          count(*) AS n_events
                        FROM events GROUP BY event_type, hour_start),
        stats AS (SELECT event_type, count(*) AS n_hours,
                    CAST(sum(n_events) AS BIGINT) AS s,
                    CAST(sum(n_events * n_events) AS BIGINT) AS q
                  FROM hourly GROUP BY event_type)
        SELECT h.event_type, h.hour_start, h.n_events,
          (h.n_events * st.n_hours - st.s) * (h.n_events * st.n_hours - st.s)
            > 4 * (st.n_hours * st.q - st.s * st.s) AS is_anomaly
        FROM hourly h JOIN stats st ON h.event_type = st.event_type
        ORDER BY h.event_type, h.hour_start""",
      // e39: the same SS identities on exact counts; t_g folds in
      // weekday order, S^2/N computed once and subtracted from both.
      // e40: densify via the span spine, anti-join to silent hours,
      // gaps-and-islands, arg_max on the len·10^10 − g0 composite.
      // e42: TRY_CAST of the JSON-typed extract mirrors
      // try_variant_get on every probed class (VariantSpec): ints and
      // "87" parse, fractional 2.5 TRUNCATES to 2 (the ANSI numeric
      // cast, both engines), non-numeric strings -> NULL (a plain
      // CAST would abort on them).
      "e42_variant_rollup" -> """
        SELECT event_type,
          CAST(count(*) AS BIGINT) AS n_events,
          CAST(count(k) AS BIGINT) AS n_with_k,
          CAST(sum(k) AS BIGINT) AS sum_k,
          CAST(min(k) AS BIGINT) AS min_k,
          CAST(max(k) AS BIGINT) AS max_k
        FROM (SELECT event_type,
                TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k
              FROM events)
        GROUP BY event_type
        ORDER BY event_type""",
      // e43: the dynamic-gap interval merge replayed as gaps-and-
      // islands whose new-session test is ts STRICTLY past the
      // windowed max(end) of all PRIOR rows (running max, NOT lag — a
      // long-gap purchase can bridge events its successors' short gaps
      // would split on; an event AT the end merges, the probed
      // boundary-inclusive session_window rule).
      "e43_dynamic_sessions" -> """
        WITH ends AS (
          SELECT user_id, ts, event_id, event_type,
            epoch_us(ts) + CASE WHEN event_type = 'purchase'
              THEN 1800000000 ELSE 600000000 END AS end_us
          FROM events),
        marked AS (
          SELECT user_id, ts, event_id, event_type,
            CASE WHEN max(end_us) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                 OR epoch_us(ts) > max(end_us) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 THEN 1 ELSE 0 END AS new_s
          FROM ends),
        numbered AS (
          SELECT user_id, ts, event_type,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked)
        SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
          count(*) AS n,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchase
        FROM numbered GROUP BY user_id, sid
        ORDER BY user_id, session_start""",
      // e44: the e03 islands (strict-> split, event_id tiebreaks),
      // each session's close = last event + the 10-minute gap (static
      // gap makes the running-max end the last event's reach), then a
      // plain hour-bucket rollup of the closes. The bucket point is
      // close − 1µs (Spark's window_time: an exact-boundary close
      // files under the hour the session lived in).
      "e44_session_close_histogram" -> """
        WITH marked AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '10 minutes'
                 THEN 1 ELSE 0 END AS new_s
          FROM events),
        numbered AS (
          SELECT user_id, ts,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked),
        sess AS (
          SELECT user_id, sid, count(*) AS n_events,
            max(ts) + INTERVAL '10 minutes' - INTERVAL '1 microsecond' AS end_ts
          FROM numbered GROUP BY user_id, sid)
        SELECT CAST(time_bucket(INTERVAL '1 hour', end_ts) AS TIMESTAMP) AS close_hour,
          count(*) AS n_sessions,
          CAST(sum(n_events) AS BIGINT) AS n_events
        FROM sess GROUP BY 1 ORDER BY 1""",
      // e41: the identical depth-bounded recursion over the e14
      // adjacency (support edges) — integer path counts.
      "e41_path_counts" -> """
        WITH RECURSIVE nx AS (SELECT event_type AS from_type,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS to_type
                    FROM events),
        adj AS (SELECT DISTINCT from_type, to_type FROM nx
                WHERE to_type IS NOT NULL),
        paths(lvl, src, dst) AS (
          SELECT 1, from_type, to_type FROM adj
          UNION ALL
          SELECT p.lvl + 1, p.src, a.to_type
          FROM paths p JOIN adj a ON a.from_type = p.dst
          WHERE p.lvl < 4
        )
        SELECT lvl AS k, src, dst, CAST(count(*) AS BIGINT) AS n_paths
        FROM paths GROUP BY lvl, src, dst
        ORDER BY k, src, dst""",
      "e40_silent_gaps" -> """
        WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h
                    FROM events GROUP BY event_type, epoch_us(ts) // 3600000000),
        span AS (SELECT min(h) AS h0, max(h) AS h1 FROM hc),
        types AS (SELECT DISTINCT event_type FROM hc),
        spine AS (SELECT event_type, unnest(generate_series(s.h0, s.h1)) AS h
                  FROM types CROSS JOIN span s),
        silent AS (SELECT sp.event_type, sp.h FROM spine sp
                   LEFT JOIN hc ON hc.event_type = sp.event_type AND hc.h = sp.h
                   WHERE hc.h IS NULL),
        isl AS (SELECT event_type, h,
                  h - row_number() OVER (PARTITION BY event_type ORDER BY h) AS grp
                FROM silent),
        gaps AS (SELECT event_type, min(h) AS g0, CAST(count(*) AS BIGINT) AS len
                 FROM isl GROUP BY event_type, grp),
        agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
                  CAST(sum(len) AS BIGINT) AS n_silent_hours,
                  CAST(max(len) AS BIGINT) AS longest_gap,
                  arg_max(g0, len * 10000000000 - g0) AS longest_gap_start
                FROM gaps GROUP BY event_type)
        SELECT t.event_type, CAST(s.h1 - s.h0 + 1 AS BIGINT) AS n_hours,
          coalesce(a.n_silent_hours, 0) AS n_silent_hours,
          coalesce(a.n_gaps, 0) AS n_gaps,
          coalesce(a.longest_gap, 0) AS longest_gap,
          a.longest_gap_start
        FROM types t CROSS JOIN span s
        LEFT JOIN agg a ON a.event_type = t.event_type
        ORDER BY t.event_type""",
      "e39_dow_seasonality" -> """
        WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                         CAST(count(*) AS BIGINT) AS c
                       FROM events GROUP BY day),
        dows AS (SELECT dayofweek(day) AS dow,
                   CAST(sum(c) AS BIGINT) AS s_g,
                   CAST(count(*) AS BIGINT) AS n_g
                 FROM daily GROUP BY dow),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                  CAST(sum(c) AS BIGINT) AS n_events,
                  CAST(sum(c * c) AS BIGINT) AS sum_sq
                FROM daily),
        agg AS (SELECT
                  list_reduce(list(CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                              ORDER BY dow), (a, x) -> a + x) AS between_raw,
                  CAST(count(*) AS BIGINT) AS n_dows
                FROM dows)
        SELECT t.n_days, t.n_events, a.n_dows,
          a.between_raw - CAST(t.n_events * t.n_events AS DOUBLE)
            / CAST(t.n_days AS DOUBLE) AS ss_between,
          CAST(t.sum_sq AS DOUBLE) - CAST(t.n_events * t.n_events AS DOUBLE)
            / CAST(t.n_days AS DOUBLE) AS ss_total,
          (a.between_raw - CAST(t.n_events * t.n_events AS DOUBLE)
            / CAST(t.n_days AS DOUBLE))
          / (CAST(t.sum_sq AS DOUBLE) - CAST(t.n_events * t.n_events AS DOUBLE)
            / CAST(t.n_days AS DOUBLE)) AS eta2
        FROM agg a CROSS JOIN tot t""",
      // e38: the e03 islands with the (ts, event_id) tiebreak on both
      // engines; a micros difference STRICTLY over 600000000 splits —
      // the exact boundary merges (the probed session_window rule).
      "e38_bounce_rate" -> """
        WITH marked AS (
          SELECT user_id, ts, event_id, event_type,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts, event_id, event_type,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked),
        ranked AS (
          SELECT user_id, sid, event_type,
            row_number() OVER (PARTITION BY user_id, sid
                               ORDER BY ts, event_id) AS rn
          FROM numbered),
        sess AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n
                 FROM numbered GROUP BY user_id, sid)
        SELECT r.event_type AS first_type,
          CAST(count(*) AS BIGINT) AS n_sessions,
          CAST(sum(CASE WHEN s.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
          CAST(sum(CASE WHEN s.n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS bounce_rate
        FROM ranked r JOIN sess s ON r.user_id = s.user_id AND r.sid = s.sid
        WHERE r.rn = 1
        GROUP BY r.event_type ORDER BY first_type""",
      // e37: three user-keyed integer signals joined; verdict
      // cross-multiplied, null transition rows coalesce to 0.
      "e37_bot_signals" -> """
        WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
        mb AS (SELECT user_id, date_trunc('minute', ts) AS minute, count(*) AS c
               FROM ev GROUP BY 1, 2),
        burst AS (SELECT user_id, CAST(max(c) AS BIGINT) AS burst,
                    CAST(sum(c) AS BIGINT) AS n_events FROM mb GROUP BY user_id),
        breadth AS (SELECT user_id,
                      CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
                    FROM ev GROUP BY user_id),
        nx AS (SELECT user_id, event_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS next_type
               FROM ev),
        loops AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_transitions,
                    CAST(sum(CASE WHEN event_type = next_type THEN 1 ELSE 0 END)
                      AS BIGINT) AS self_loops
                  FROM nx WHERE next_type IS NOT NULL GROUP BY user_id)
        SELECT b.user_id, b.n_events, b.burst, d.n_types,
          coalesce(l.n_transitions, 0) AS n_transitions,
          coalesce(l.self_loops, 0) AS self_loops,
          (b.burst >= 5 OR (d.n_types <= 2 AND b.n_events >= 20)
           OR coalesce(l.self_loops, 0) * 3 > coalesce(l.n_transitions, 0) * 2)
            AS bot_flag
        FROM burst b JOIN breadth d ON b.user_id = d.user_id
        LEFT JOIN loops l ON b.user_id = l.user_id
        ORDER BY b.user_id""",
      // e36: e14's transition matrix, rank-1 argmax per from_type
      // (count desc, to_type), scored in place; one divide per row.
      "e36_markov_accuracy" -> """
        WITH nx AS (SELECT event_type AS from_type,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS to_type
                    FROM events),
        m AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n FROM nx
              WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        pred AS (SELECT from_type, to_type AS predicted_next FROM (
                   SELECT from_type, to_type,
                     row_number() OVER (PARTITION BY from_type
                       ORDER BY n DESC, to_type) AS rk FROM m) t
                 WHERE rk = 1)
        SELECT m.from_type, p.predicted_next,
          CAST(sum(m.n) AS BIGINT) AS n_transitions,
          CAST(sum(CASE WHEN m.to_type = p.predicted_next THEN m.n ELSE 0 END)
            AS BIGINT) AS n_correct,
          CAST(sum(CASE WHEN m.to_type = p.predicted_next THEN m.n ELSE 0 END)
            AS DOUBLE) / CAST(sum(m.n) AS DOUBLE) AS accuracy
        FROM m JOIN pred p ON m.from_type = p.from_type
        GROUP BY m.from_type, p.predicted_next
        ORDER BY m.from_type""",
      "e14_transitions" -> """
        WITH nx AS (SELECT event_type AS from_type,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS to_type
                    FROM events),
        c AS (SELECT from_type, to_type, count(*) AS n FROM nx
              WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        SELECT from_type, to_type, n,
          CAST(n AS DOUBLE) / CAST(CAST(sum(n) OVER (PARTITION BY from_type)
            AS BIGINT) AS DOUBLE) AS p
        FROM c ORDER BY from_type, to_type""",
      "e15_dwell" -> """
        WITH nx AS (SELECT event_type AS from_type,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS to_type,
                      epoch_us(lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id)) - epoch_us(ts) AS gap_us
                    FROM events)
        SELECT from_type, to_type, count(*) AS n,
          CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
          min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
          CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
            AS mean_gap_us
        FROM nx WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type ORDER BY from_type, to_type""",
      // e17: the same transition frame, tail percentiles — quantile_cont
      // shares Spark percentile's linear interpolation; the approx gate
      // surfaces as all-true (t07 discipline).
      "e17_dwell_percentiles" -> """
        WITH nx AS (SELECT event_type AS from_type,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS to_type,
                      epoch_us(lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id)) - epoch_us(ts) AS gap_us
                    FROM events)
        SELECT from_type, to_type, count(*) AS n,
          quantile_cont(gap_us, 0.5) AS p50_us,
          quantile_cont(gap_us, 0.9) AS p90_us,
          quantile_cont(gap_us, 0.99) AS p99_us,
          TRUE AS approx_ok
        FROM nx WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type ORDER BY from_type, to_type""",
      "e09_user_sim_bucketed" -> {
        val hourSums = (0 until 24).map(h =>
          s"CAST(CAST(sum(CASE WHEN hour(ts) = $h THEN CAST(value AS DECIMAL(18,4)) " +
          s"ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE)").mkString(", ")
        s"""
        WITH v AS (SELECT user_id, [$hourSums] AS v FROM events GROUP BY user_id),
        nv AS (SELECT user_id, v,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
               FROM v),
        bk AS (SELECT user_id, u,
                 (CASE WHEN v[1] > v[13] THEN 1 ELSE 0 END) +
                 (CASE WHEN v[2] > v[14] THEN 2 ELSE 0 END) +
                 (CASE WHEN v[3] > v[15] THEN 4 ELSE 0 END) +
                 (CASE WHEN v[4] > v[16] THEN 8 ELSE 0 END) AS bucket
               FROM nv)
        SELECT a.user_id AS user_a, b.user_id AS user_b,
          list_dot_product(a.u, b.u) AS cos
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.user_id < b.user_id
        ORDER BY cos DESC, user_a, user_b LIMIT 10"""
      },
      "t01_token_stats" -> """
        SELECT doc_id,
          len(regexp_split_to_array(text, '\s+')) AS n_tokens,
          len(list_distinct(regexp_split_to_array(text, '\s+'))) AS n_distinct,
          length(text) AS n_chars,
          CAST(length(text) - (len(regexp_split_to_array(text, '\s+')) - 1) AS DOUBLE)
            / len(regexp_split_to_array(text, '\s+')) AS avg_token_len
        FROM documents ORDER BY doc_id""",
      "t02_quality_score" -> """
        WITH x AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)
        SELECT doc_id,
          CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t) AS stop_ratio,
          CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr,
          least(len(t) / 50.0, 1.0) AS len_score,
          0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
            + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
            + 0.3 * least(len(t) / 50.0, 1.0) AS quality
        FROM x ORDER BY doc_id""",
      "t03_lang_id" -> """
        WITH x AS (SELECT doc_id, lang, regexp_split_to_array(text, '\s+') AS t FROM documents)
        SELECT doc_id, lang AS declared_lang,
          CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t) AS en_score,
          CASE WHEN CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t) >= 0.04
               THEN 'en' ELSE 'unk' END AS pred_lang
        FROM x ORDER BY doc_id""",
      "t04_fingerprints" -> """
        SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc_id FROM (
          SELECT doc_id,
            md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS fingerprint
          FROM documents) t
        GROUP BY fingerprint ORDER BY fingerprint""",
      "t05_top_terms" -> """
        SELECT term, count(*) AS n FROM (
          SELECT unnest(regexp_split_to_array(text, '\s+')) AS term FROM documents) t
        GROUP BY term ORDER BY n DESC, term LIMIT 20""",
      "t06_top_bigrams" -> """
        WITH tk AS (SELECT regexp_split_to_array(text, '\s+') AS t FROM documents),
        bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                            i -> t[i] || ' ' || t[i+1])) AS bigram FROM tk)
        SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
        ORDER BY n DESC, bigram LIMIT 20""",
      // The HLL estimate is engine-specific, so the checked surface is the
      // exact count plus a tolerance flag the Spark side computes against
      // its own sketch (|approx-exact| <= 5% at rsd=0.01); the oracle
      // recomputes the exact count and asserts the flag is TRUE.
      "t07_approx_distinct" -> """
        SELECT source, count(DISTINCT term) AS exact_terms, TRUE AS within_tol
        FROM (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS term
              FROM documents) t
        GROUP BY source ORDER BY source""",
      "t08_subtoken_count" -> """
        SELECT doc_id,
          len(regexp_split_to_array(text, '\s+')) AS n_tokens,
          len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_subtokens,
          CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS DOUBLE)
            / len(regexp_split_to_array(text, '\s+')) AS pieces_per_token
        FROM documents ORDER BY doc_id""",
      "t09_rolling_fingerprint" -> """
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform(regexp_split_to_array(text, '\s+'),
                t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT))),
            (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_hash
        FROM documents ORDER BY doc_id""",
      "t10_topk_per_source" -> """
        SELECT source, rank, term, n FROM (
          SELECT source, term, n,
            row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS rank
          FROM (SELECT source, tok AS term, count(*) AS n FROM (
                  SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS tok
                  FROM documents) x GROUP BY source, tok) c) w
        WHERE rank <= 5 ORDER BY source, rank""",
      "t11_training_selection" -> """
        WITH x AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        scored AS (
          SELECT doc_id,
            0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
              + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
              + 0.3 * least(len(t) / 50.0, 1.0) AS quality
          FROM x),
        kept AS (SELECT doc_id, quality FROM scored WHERE quality >= 0.8),
        canonical AS (
          SELECT min(doc_id) AS doc_id FROM (
            SELECT doc_id,
              md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(text, '\s+'))), ' ')) AS fp
            FROM documents) f GROUP BY fp),
        th AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)) AS s
               FROM th),
        e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shash FROM sh),
        juniors AS (
          SELECT DISTINCT b.doc_id FROM e a JOIN e b
            ON a.shash = b.shash AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id, a.ns, b.ns
          HAVING CAST(count(*) AS DOUBLE) / (any_value(a.ns) + any_value(b.ns) - count(*)) >= 0.3)
        SELECT k.doc_id, k.quality FROM kept k
        WHERE k.doc_id IN (SELECT doc_id FROM canonical)
          AND k.doc_id NOT IN (SELECT doc_id FROM juniors)
        ORDER BY k.doc_id""",
      "t13_tfidf" -> """
        WITH tc AS (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS term
                    FROM documents),
        tf AS (SELECT source, term, count(*) AS tf FROM tc GROUP BY source, term),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
        x AS (SELECT f.source, f.term, f.tf, d.df,
                CAST(f.tf AS DOUBLE) * ln(CAST(n_sources AS DOUBLE) / CAST(d.df AS DOUBLE)) AS tfidf
              FROM tf f JOIN df d ON f.term = d.term CROSS JOIN ns)
        SELECT source, rank, term, tf, df, tfidf FROM (
          SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS rank
          FROM x) t
        WHERE rank <= 5 ORDER BY source, rank""",
      "t12_normalize" -> """
        SELECT doc_id, length(text) AS raw_len,
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean_text,
          length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS clean_len
        FROM documents ORDER BY doc_id""",
      "m04_resize_plan" -> """
        WITH m AS (
          SELECT doc_id,
            64 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 512 AS width,
            64 + (CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) // 512) % 512 AS height
          FROM documents WHERE n_chars % 3 = 0)
        SELECT doc_id, width, height,
          CAST(floor(width * (256.0 / greatest(width, height))) AS BIGINT) AS out_w,
          CAST(floor(height * (256.0 / greatest(width, height))) AS BIGINT) AS out_h
        FROM m ORDER BY doc_id""",
      // Recomputes the PNG generator formula (dims 8+id%25 x 8+(id/25)%25,
      // gray pixel (id*31+7x+13y)%256) — the Spark side gets these numbers
      // by DECODING real PNG bytes, so the hash match certifies the codec.
      "m05_png_decode" -> """
        SELECT doc_id,
          8 + doc_id % 25 AS width,
          8 + (doc_id // 25) % 25 AS height,
          CAST(list_sum(flatten(list_transform(
            generate_series(0, 8 + (doc_id // 25) % 25 - 1), y ->
              list_transform(generate_series(0, 8 + doc_id % 25 - 1), x ->
                (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS pix_sum
        FROM documents ORDER BY doc_id""",
      // m22: m11's aHash band-pair chain joined with m21's dHash
      // replay — the consensus verdict recomputed end to end.
      "m22_consensus_dups" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        t AS (SELECT doc_id, w, h,
                CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                  list_transform(generate_series(0, w - 1), x ->
                    (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS total
              FROM d),
        cells AS (SELECT doc_id, w, h, total, i, j,
                    (i * w) // 8 AS x0, ((i + 1) * w) // 8 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM t,
                    (SELECT unnest(generate_series(0, 7)) AS i) ii,
                    (SELECT unnest(generate_series(0, 7)) AS j) jj),
        cs AS (SELECT doc_id, w, h, total, i, j,
                 (x1 - x0) * (y1 - y0) AS np,
                 CAST(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                   list_transform(generate_series(x0, x1 - 1), x ->
                     (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS csum
               FROM cells),
        bits AS (SELECT doc_id, 8 * j + i AS b,
                   CASE WHEN csum * w * h > total * np THEN 1 ELSE 0 END AS bit
                 FROM cs),
        hx AS (SELECT doc_id,
                 CAST(sum(CASE WHEN b >= 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(sum(CASE WHEN b < 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo
               FROM bits GROUP BY doc_id),
        bd AS (SELECT doc_id, hi, lo, bb.band,
                 CASE bb.band WHEN 0 THEN lo & 65535
                              WHEN 1 THEN (lo >> 16) & 65535
                              WHEN 2 THEN hi & 65535
                              ELSE (hi >> 16) & 65535 END AS bval
               FROM hx, (SELECT unnest(generate_series(0, 3)) AS band) bb),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS a_hamming
          FROM bd a JOIN bd b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2),
        dcells AS (SELECT doc_id, i, j,
                     ((i * w) // 9) AS x0, (((i + 1) * w) // 9) AS x1,
                     ((j * h) // 8) AS y0, (((j + 1) * h) // 8) AS y1
                   FROM d,
                     (SELECT unnest(generate_series(0, 8)) AS i) ii,
                     (SELECT unnest(generate_series(0, 7)) AS j) jj),
        dcs AS (SELECT doc_id, i, j,
                  (x1 - x0) * (y1 - y0) AS np,
                  CAST(coalesce(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                    list_transform(generate_series(x0, x1 - 1), x ->
                      (doc_id * 31 + 7 * x + 13 * y) % 256)))), 0) AS BIGINT) AS csum
                FROM dcells),
        dbits AS (SELECT a.doc_id, 8 * a.j + a.i AS b,
                    CASE WHEN a.csum * n.np > n.csum * a.np THEN 1 ELSE 0 END AS bit
                  FROM dcs a JOIN dcs n
                    ON a.doc_id = n.doc_id AND a.j = n.j AND n.i = a.i + 1
                  WHERE a.i < 8),
        dhx AS (SELECT doc_id,
                  CAST(sum(CASE WHEN b >= 32 AND bit = 1
                                THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS dhi,
                  CAST(sum(CASE WHEN b < 32 AND bit = 1
                                THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS dlo
                FROM dbits GROUP BY doc_id)
        SELECT p.doc_a, p.doc_b, p.a_hamming,
          CAST(bit_count(xor(da.dhi, db.dhi)) + bit_count(xor(da.dlo, db.dlo)) AS BIGINT) AS d_hamming,
          (bit_count(xor(da.dhi, db.dhi)) + bit_count(xor(da.dlo, db.dlo)) <= 2) AS consensus
        FROM pairs p
        JOIN dhx da ON p.doc_a = da.doc_id
        JOIN dhx db ON p.doc_b = db.doc_id
        ORDER BY doc_a, doc_b""",
      // m21: the m08 replay with a 9×8 grid and ADJACENT-cell
      // cross-multiplied comparisons; empty cells (w = 8 < 9 columns)
      // pinned to (0, 0) via coalesce — false on both sides, exactly
      // as the JVM loop computes them.
      "m21_dhash" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        cells AS (SELECT doc_id, w, h, i, j,
                    (i * w) // 9 AS x0, ((i + 1) * w) // 9 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM d,
                    (SELECT unnest(generate_series(0, 8)) AS i) ii,
                    (SELECT unnest(generate_series(0, 7)) AS j) jj),
        cs AS (SELECT doc_id, i, j,
                 (x1 - x0) * (y1 - y0) AS np,
                 CAST(coalesce(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                   list_transform(generate_series(x0, x1 - 1), x ->
                     (doc_id * 31 + 7 * x + 13 * y) % 256)))), 0) AS BIGINT) AS csum
               FROM cells),
        bits AS (SELECT a.doc_id, 8 * a.j + a.i AS b,
                   CASE WHEN a.csum * n.np > n.csum * a.np THEN 1 ELSE 0 END AS bit
                 FROM cs a JOIN cs n
                   ON a.doc_id = n.doc_id AND a.j = n.j AND n.i = a.i + 1
                 WHERE a.i < 8)
        SELECT doc_id,
          CAST(sum(CASE WHEN b >= 32 AND bit = 1
                        THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS dhash_hi,
          CAST(sum(CASE WHEN b < 32 AND bit = 1
                        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS dhash_lo
        FROM bits GROUP BY doc_id ORDER BY doc_id""",
      "m08_ahash" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        t AS (SELECT doc_id, w, h,
                CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                  list_transform(generate_series(0, w - 1), x ->
                    (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS total
              FROM d),
        cells AS (SELECT doc_id, w, h, total, i, j,
                    (i * w) // 8 AS x0, ((i + 1) * w) // 8 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM t,
                    (SELECT unnest(generate_series(0, 7)) AS i) ii,
                    (SELECT unnest(generate_series(0, 7)) AS j) jj),
        cs AS (SELECT doc_id, w, h, total, i, j,
                 (x1 - x0) * (y1 - y0) AS np,
                 CAST(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                   list_transform(generate_series(x0, x1 - 1), x ->
                     (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS csum
               FROM cells),
        bits AS (SELECT doc_id, 8 * j + i AS b,
                   CASE WHEN csum * w * h > total * np THEN 1 ELSE 0 END AS bit
                 FROM cs)
        SELECT doc_id,
          CAST(sum(CASE WHEN b >= 32 AND bit = 1
                        THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
          CAST(sum(CASE WHEN b < 32 AND bit = 1
                        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS ahash_lo
        FROM bits GROUP BY doc_id ORDER BY doc_id""",
      // Recomputes the WAV generator formula (n = 200 + id % 400 samples,
      // s_i = (id*7919 + i*104729) % 65536 - 32768) — the Spark side gets
      // these numbers by DECODING real WAV bytes; the position-weighted
      // sum pins the decoded sample ORDER, so a hash match certifies the
      // codec end to end.
      // m19: the decimated-stream stats recomputed from the generator
      // formula at the EVEN sample indices (out sample j = s_{2j},
      // n_out = ⌈n/2⌉) — a hash match certifies decode → decimate →
      // re-encode → decode with order preserved.
      // m23: sign flips between consecutive generator samples — the
      // 0-counts-as-non-negative rule mirrored exactly.
      // m24: generator replay of the peak-normalize chain — integer
      // floor division on non-negative operands only, lists 1-indexed
      // for the weighted sum.
      // m27: the GIF generator replayed per tubelet cell — pixel
      // (f, x, y) = (id·31 + 17f + 7x + 13y) mod 256; k enumerates the
      // 2×3×3 block (dt = k div 9, dy = (k div 3) mod 3, dx = k mod 3),
      // weight k+1 matches the Spark loop's dt·9+dy·3+dx+1.
      // m29: the generator PCM replayed at output indices — even j
      // copies s[j/2], odd j the TRUNCATED midpoint (// and Java /
      // both round toward zero on negatives; a shift would floor).
      // m33: the contract row — every generated payload carries its
      // container signature; Spark COMPUTES the checks, the oracle
      // states the contract, hash compare gates any deviation.
      // m34: the shared aHash prefix, df-capped digests, offset counts,
      // modal offset by (support DESC, |off|, off).
      "m34_video_alignment" -> ("""
        WITH """ + graft.ops.Multimodal.gifAhashReplaySql + """,
        rare AS (SELECT hi, lo FROM
                   (SELECT hi, lo, doc_id FROM hx GROUP BY 1, 2, 3) q
                 GROUP BY hi, lo HAVING count(*) <= 64),
        hc AS (SELECT hx.* FROM hx
               JOIN rare ON rare.hi = hx.hi AND rare.lo = hx.lo),
        offs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(b.f - a.f AS BIGINT) AS off,
                   CAST(count(*) AS BIGINT) AS support
                 FROM hc a JOIN hc b
                   ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
                 GROUP BY 1, 2, 3),
        rk AS (SELECT doc_a, doc_b, off, support,
                 row_number() OVER (PARTITION BY doc_a, doc_b
                   ORDER BY support DESC, abs(off), off) AS r
               FROM offs),
        tot AS (SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_offsets,
                  CAST(sum(support) AS BIGINT) AS n_matches
                FROM offs GROUP BY 1, 2)
        SELECT r.doc_a, r.doc_b, r.off AS best_offset, r.support,
          t.n_offsets, t.n_matches, r.support >= 2 AS aligned
        FROM rk r JOIN tot t ON t.doc_a = r.doc_a AND t.doc_b = r.doc_b
        WHERE r.r = 1
        ORDER BY r.doc_a, r.doc_b"""),
      "m33_payload_validation" -> """
        SELECT 'gif' AS modality, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) AS BIGINT) AS n_valid, TRUE AS all_valid FROM documents
        UNION ALL
        SELECT 'png', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), TRUE
        FROM documents
        UNION ALL
        SELECT 'wav', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT), TRUE
        FROM documents
        ORDER BY modality""",
      // m32: features replayed from the generator formulas (pix_sum
      // raster, WAV n = 200 + id % 400), identical sum algebra and
      // the same sqrt/multiply/divide chain.
      "m32_modality_corr" -> """
        WITH f AS (SELECT doc_id,
                     CAST(n_chars AS BIGINT) AS x,
                     CAST(list_sum(flatten(list_transform(
                       generate_series(0, 8 + (doc_id // 25) % 25 - 1), y ->
                         list_transform(generate_series(0, 8 + doc_id % 25 - 1), xx ->
                           (doc_id * 31 + 7 * xx + 13 * y) % 256)))) AS BIGINT) AS y,
                     CAST(200 + doc_id % 400 AS BIGINT) AS z
                   FROM documents),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                CAST(sum(z) AS BIGINT) AS sz,
                CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
                CAST(sum(z*z) AS BIGINT) AS szz,
                CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*z) AS BIGINT) AS sxz,
                CAST(sum(y*z) AS BIGINT) AS syz
              FROM f),
        p AS (SELECT 'chars_pixsum' AS pair, n,
                n*sxy - sx*sy AS num, n*sxx - sx*sx AS den_a, n*syy - sy*sy AS den_b
              FROM a
              UNION ALL
              SELECT 'chars_samples', n, n*sxz - sx*sz, n*sxx - sx*sx, n*szz - sz*sz
              FROM a
              UNION ALL
              SELECT 'pixsum_samples', n, n*syz - sy*sz, n*syy - sy*sy, n*szz - sz*sz
              FROM a)
        SELECT pair, n, CAST(num AS BIGINT) AS num, CAST(den_a AS BIGINT) AS den_a,
          CAST(den_b AS BIGINT) AS den_b,
          CAST(num AS DOUBLE) / (sqrt(CAST(den_a AS DOUBLE)) * sqrt(CAST(den_b AS DOUBLE))) AS r
        FROM p ORDER BY pair""",
      // m31: the rotated raster replayed cell by cell — O(y',x') =
      // I(h-1-x', y'), dims swapped, weights in rotated row-major.
      "m31_png_rotate" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        g AS (SELECT doc_id, w, h, y2, x2,
                (doc_id * 31 + 7 * y2 + 13 * (h - 1 - x2)) % 256 AS v
              FROM d,
                LATERAL (SELECT unnest(generate_series(0, w - 1)) AS y2) a,
                LATERAL (SELECT unnest(generate_series(0, h - 1)) AS x2) b)
        SELECT doc_id, CAST(min(h) AS BIGINT) AS width, CAST(min(w) AS BIGINT) AS height,
          CAST(sum(v) AS BIGINT) AS pix_sum,
          CAST(sum(v * (y2 * h + x2 + 1)) AS BIGINT) AS pos_wsum
        FROM g GROUP BY doc_id ORDER BY doc_id""",
      // m30: histogram entropy replayed from the generator raster;
      // c·ln(c) terms fold in bin order (t45 integer-log discipline).
      "m30_pixel_entropy" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        px AS (SELECT doc_id, w, h, (doc_id * 31 + 7 * x + 13 * y) % 256 AS v
               FROM d,
                 LATERAL (SELECT unnest(generate_series(0, h - 1)) AS y) a,
                 LATERAL (SELECT unnest(generate_series(0, w - 1)) AS x) b),
        vc AS (SELECT doc_id, v, count(*) AS c FROM px GROUP BY doc_id, v),
        e AS (SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_vals,
                list_reduce(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) ORDER BY v),
                  (a, x) -> a + x) AS s
              FROM vc GROUP BY doc_id)
        SELECT d.doc_id, CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
          CAST(d.w * d.h AS BIGINT) AS n_pix, e.n_vals,
          ln(CAST(d.w * d.h AS DOUBLE)) - e.s / CAST(d.w * d.h AS DOUBLE) AS entropy,
          e.n_vals <= 16 AS flat
        FROM d JOIN e ON d.doc_id = e.doc_id
        ORDER BY d.doc_id""",
      "m29_wav_upsample" -> """
        WITH d AS (SELECT doc_id, CAST(200 + doc_id % 400 AS BIGINT) AS n
                   FROM documents),
        o AS (SELECT doc_id, n,
                unnest(generate_series(0, CAST(2 * n - 2 AS INTEGER))) AS j
              FROM d),
        v AS (SELECT doc_id, n, j,
                CASE WHEN j % 2 = 0
                  THEN (doc_id * 7919 + (j // 2) * 104729) % 65536 - 32768
                  ELSE (((doc_id * 7919 + (j // 2) * 104729) % 65536 - 32768)
                      + ((doc_id * 7919 + (j // 2 + 1) * 104729) % 65536 - 32768)) // 2
                END AS s
              FROM o)
        SELECT doc_id, n AS n_in, CAST(2 * n - 1 AS BIGINT) AS n_out,
          CAST(sum(s) AS BIGINT) AS amp_sum,
          CAST(sum(s * (j + 1)) AS BIGINT) AS amp_wsum
        FROM v GROUP BY doc_id, n ORDER BY doc_id""",
      // m28: the generator raster replayed per patch cell; the
      // polynomial fold runs k = (k*257 + v) mod 2147483647 in
      // row-major pixel order (seedless list_reduce == 0-seeded fold
      // because the first step is 0*257 + v).
      "m28_repeated_patches" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w,
                     8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        g AS (SELECT doc_id, w, py, px FROM d,
                LATERAL (SELECT unnest(generate_series(0, h // 4 - 1)) AS py) a,
                LATERAL (SELECT unnest(generate_series(0, w // 4 - 1)) AS px) b),
        pk AS (SELECT doc_id, py, px,
                 list_reduce(list_transform(generate_series(0, 15),
                   k -> CAST((doc_id * 31 + 7 * (px * 4 + k % 4)
                        + 13 * (py * 4 + k // 4)) % 256 AS BIGINT)),
                   (acc, v) -> (acc * 257 + v) % 2147483647) AS pkey
               FROM g)
        SELECT pkey, count(*) AS n_patches,
          count(DISTINCT doc_id) AS n_docs,
          min(doc_id) AS first_doc
        FROM pk GROUP BY pkey HAVING count(DISTINCT doc_id) >= 2
        ORDER BY pkey""",
      "m27_video_tubelets" -> """
        WITH d AS (SELECT doc_id, 6 + doc_id % 10 AS w,
                     6 + (doc_id // 10) % 10 AS h,
                     2 + doc_id % 4 AS nf
                   FROM documents),
        g AS (SELECT doc_id, w, h, tt, py, px FROM d,
                LATERAL (SELECT unnest(generate_series(0, CAST(nf // 2 - 1 AS INTEGER))) AS tt) a,
                LATERAL (SELECT unnest(generate_series(0, CAST(h // 3 - 1 AS INTEGER))) AS py) b,
                LATERAL (SELECT unnest(generate_series(0, CAST(w // 3 - 1 AS INTEGER))) AS px) c)
        SELECT doc_id, CAST(tt AS BIGINT) AS tt, CAST(py AS BIGINT) AS py,
          CAST(px AS BIGINT) AS px,
          CAST(list_sum(list_transform(generate_series(0, 17),
            k -> (doc_id * 31 + (tt * 2 + k // 9) * 17
                  + (px * 3 + k % 3) * 7
                  + (py * 3 + (k // 3) % 3) * 13) % 256)) AS BIGINT) AS t_sum,
          CAST(list_sum(list_transform(generate_series(0, 17),
            k -> ((doc_id * 31 + (tt * 2 + k // 9) * 17
                   + (px * 3 + k % 3) * 7
                   + (py * 3 + (k // 3) % 3) * 13) % 256) * (k + 1))) AS BIGINT) AS t_wsum
        FROM g ORDER BY doc_id, tt, py, px""",
      // m26: the generator raster replayed per patch cell — pixel
      // (i, j) = (id·31 + 7i + 13j) mod 256; k enumerates the patch
      // row-major (dx = k mod 4, dy = k div 4), weight k+1 matches the
      // Spark loop's dy·4+dx+1.
      "m26_vit_patches" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w,
                     8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        g AS (SELECT doc_id, w, py, px FROM d,
                LATERAL (SELECT unnest(generate_series(0, h // 4 - 1)) AS py) a,
                LATERAL (SELECT unnest(generate_series(0, w // 4 - 1)) AS px) b)
        SELECT doc_id, CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px,
          CAST(list_sum(list_transform(generate_series(0, 15),
            k -> (doc_id * 31 + 7 * (px * 4 + k % 4)
                  + 13 * (py * 4 + k // 4)) % 256)) AS BIGINT) AS p_sum,
          CAST(list_sum(list_transform(generate_series(0, 15),
            k -> ((doc_id * 31 + 7 * (px * 4 + k % 4)
                   + 13 * (py * 4 + k // 4)) % 256) * (k + 1))) AS BIGINT) AS p_wsum
        FROM g ORDER BY doc_id, py, px""",
      "m24_wav_normalize" -> """
        WITH d AS (SELECT doc_id, CAST(200 + doc_id % 400 AS BIGINT) AS n
                   FROM documents),
        g AS (SELECT doc_id, n,
                generate_series(0, CAST(n AS INTEGER) - 1) AS gs FROM d),
        p AS (SELECT doc_id, n, gs,
                list_max(list_transform(gs,
                  i -> abs((doc_id * 7919 + i * 104729) % 65536 - 32768))) AS peak_in
              FROM g),
        ns AS (SELECT doc_id, n, peak_in,
                list_transform(gs, i ->
                  CASE WHEN ((doc_id * 7919 + i * 104729) % 65536 - 32768) >= 0
                       THEN (((doc_id * 7919 + i * 104729) % 65536 - 32768) * 30000)
                            // greatest(peak_in, 1)
                       ELSE -(((-((doc_id * 7919 + i * 104729) % 65536 - 32768)) * 30000)
                            // greatest(peak_in, 1)) END) AS nl
               FROM p)
        SELECT doc_id, n AS n_samples, CAST(peak_in AS BIGINT) AS peak_in,
          CAST(list_max(list_transform(nl, x -> abs(x))) AS BIGINT) AS peak_out,
          CAST(list_sum(nl) AS BIGINT) AS amp_sum,
          CAST(list_sum(list_transform(generate_series(1, CAST(n AS INTEGER)),
            k -> nl[k] * k)) AS BIGINT) AS amp_wsum
        FROM ns ORDER BY doc_id""",
      "m23_zero_crossings" -> """
        WITH d AS (SELECT doc_id, CAST(200 + doc_id % 400 AS BIGINT) AS n
                   FROM documents),
        ch AS (SELECT doc_id, n,
                 CAST(list_sum(list_transform(
                   generate_series(1, CAST(n AS INT) - 1), i ->
                     CASE WHEN ((doc_id * 7919 + (i - 1) * 104729) % 65536 - 32768 < 0)
                            <> ((doc_id * 7919 + i * 104729) % 65536 - 32768 < 0)
                          THEN 1 ELSE 0 END)) AS BIGINT) AS n_changes
               FROM d)
        SELECT doc_id, n AS n_samples, n_changes,
          CAST(n_changes AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS zcr
        FROM ch ORDER BY doc_id""",
      "m19_wav_decimate" -> """
        WITH d AS (SELECT doc_id, CAST(200 + doc_id % 400 AS BIGINT) AS n_in
                   FROM documents)
        SELECT doc_id, n_in, (n_in + 1) // 2 AS n_out,
          CAST(list_sum(list_transform(
            generate_series(0, CAST((n_in + 1) // 2 AS INTEGER) - 1),
            j -> (doc_id * 7919 + (2 * j) * 104729) % 65536 - 32768)) AS BIGINT)
            AS amp_sum,
          CAST(list_sum(list_transform(
            generate_series(0, CAST((n_in + 1) // 2 AS INTEGER) - 1),
            j -> ((doc_id * 7919 + (2 * j) * 104729) % 65536 - 32768) * (j + 1))) AS BIGINT)
            AS amp_wsum
        FROM d ORDER BY doc_id""",
      "m06_wav_decode" -> """
        SELECT doc_id,
          200 + doc_id % 400 AS n_samples,
          CAST(list_sum(list_transform(
            generate_series(0, CAST(200 + doc_id % 400 AS INTEGER) - 1),
            i -> (doc_id * 7919 + i * 104729) % 65536 - 32768)) AS BIGINT) AS amp_sum,
          CAST(list_sum(list_transform(
            generate_series(0, CAST(200 + doc_id % 400 AS INTEGER) - 1),
            i -> ((doc_id * 7919 + i * 104729) % 65536 - 32768) * (i + 1))) AS BIGINT) AS amp_wsum
        FROM documents ORDER BY doc_id""",
      // Recomputes m09's frame energies from the WAV generator formula:
      // 64-sample frames over n = 200 + id%400 samples of
      // s_i = (id*7919 + i*104729) % 65536 - 32768; peak/total/active
      // all integer-exact, above-mean via energy*n_frames > total.
      "m09_wav_frames" -> """
        WITH f AS (SELECT doc_id, CAST(200 + doc_id % 400 AS BIGINT) AS n FROM documents),
        e AS (SELECT doc_id, (n + 63) // 64 AS n_frames, fr,
                CAST(list_sum(list_transform(
                  generate_series(CAST(fr * 64 AS INTEGER),
                                  CAST(least(n, fr * 64 + 64) AS INTEGER) - 1),
                  i -> ((doc_id * 7919 + i * 104729) % 65536 - 32768) *
                       ((doc_id * 7919 + i * 104729) % 65536 - 32768))) AS BIGINT) AS energy
              FROM f, LATERAL unnest(generate_series(0, CAST((n + 63) // 64 AS INTEGER) - 1))
                      AS t(fr)),
        w AS (SELECT doc_id, n_frames, fr, energy,
                sum(energy) OVER (PARTITION BY doc_id) AS tot
              FROM e)
        SELECT doc_id, CAST(min(n_frames) AS BIGINT) AS n_frames,
          CAST((array_agg(fr ORDER BY energy DESC, fr ASC))[1] AS BIGINT) AS peak_frame,
          CAST(max(energy) AS BIGINT) AS peak_energy,
          CAST(min(tot) AS BIGINT) AS total_energy,
          CAST(sum(CASE WHEN energy * n_frames > tot THEN 1 ELSE 0 END) AS BIGINT) AS n_active
        FROM w GROUP BY doc_id ORDER BY doc_id""",
      // m14: per-frame energies recomputed from the WAV generator
      // formula (the m09 CTE), clips paired within the same frame
      // count, integer L1 summed frame-by-frame, rank-1 by (l1, id).
      // s16: the s14 graph CTE, mutual-filtered, through the d11
      // recursive reachability walk.
      "s16_mutual_knn" -> """
        WITH RECURSIVE
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        cells AS (SELECT vec_id, cell_id FROM (
          SELECT e.vec_id, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        g AS (SELECT vec_id, nb_id FROM (
          SELECT a.vec_id, b.vec_id AS nb_id,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) DESC, b.vec_id) AS rank
          FROM cells a JOIN cells b ON b.cell_id = a.cell_id AND b.vec_id <> a.vec_id
          JOIN e ea ON ea.vec_id = a.vec_id
          JOIN e eb ON eb.vec_id = b.vec_id) t
          WHERE rank <= 3),
        mutual AS (SELECT g.vec_id AS doc_a, g.nb_id AS doc_b
                   FROM g JOIN g r ON r.vec_id = g.nb_id AND r.nb_id = g.vec_id
                   WHERE g.vec_id < g.nb_id),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM mutual
                  UNION ALL SELECT doc_b, doc_a FROM mutual),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT ed.dst, w.lbl FROM walk w JOIN edges ed ON ed.src = w.node)
        SELECT node AS vec_id, min(lbl) AS cluster_id
        FROM walk GROUP BY node ORDER BY vec_id""",
      // s15: the s04 assignment CTE + the segmented deterministic fold
      // (vec_id % 256 segments, vec_id order within, segment order
      // across) for the per-(cell, dim) member mean.
      "s15_kmeans_step" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        el AS (SELECT cell_id, vec_id, i AS dim, CAST(v[i + 1] AS DOUBLE) AS x,
                 vec_id % 256 AS seg
               FROM assigned, LATERAL unnest(generate_series(0, 63)) AS t(i)),
        segs AS (SELECT cell_id, dim, seg, count(*) AS n_seg,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) AS s_seg
                 FROM el GROUP BY 1, 2, 3),
        upd AS (SELECT cell_id, dim, CAST(sum(n_seg) AS BIGINT) AS n_members,
                  list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b) AS x_sum
                FROM segs GROUP BY 1, 2),
        seed AS (SELECT vec_id AS cell_id, i AS dim, CAST(v[i + 1] AS DOUBLE) AS old_c
                 FROM e, LATERAL unnest(generate_series(0, 63)) AS t(i)
                 WHERE vec_id < 16)
        SELECT u.cell_id, CAST(u.dim AS BIGINT) AS dim, s.old_c,
          u.x_sum / CAST(u.n_members AS DOUBLE) AS new_c, u.n_members
        FROM upd u JOIN seed s ON s.cell_id = u.cell_id AND s.dim = u.dim
        ORDER BY u.cell_id, u.dim""",
      // s17: two Lloyd rounds replayed as CTEs. Assignment metric and
      // SSE are the direct squared-difference in-order folds (matching
      // Spark's zip_with aggregate bit for bit); means and SSE sum
      // through the s15/t22 segmented order; empty cells keep the
      // previous centroid (the coalesce in c1/c2).
      "s17_kmeans_two_step" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
        a1 AS (SELECT vec_id, v, cell_id FROM (
          SELECT e.vec_id, e.v, c0.cell_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(generate_series(1, 64), i ->
                (e.v[i] - c0.cv[i]) * (e.v[i] - c0.cv[i])), (a, b) -> a + b) ASC,
              c0.cell_id) AS r
          FROM e CROSS JOIN c0) t WHERE r = 1),
        el1 AS (SELECT cell_id, vec_id, i AS dim, v[i + 1] AS x, vec_id % 256 AS seg
                FROM a1, LATERAL unnest(generate_series(0, 63)) AS t(i)),
        seg1 AS (SELECT cell_id, dim, seg, count(*) AS n_seg,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) AS s_seg
                 FROM el1 GROUP BY 1, 2, 3),
        m1 AS (SELECT cell_id, dim, CAST(sum(n_seg) AS BIGINT) AS n,
                 list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b) AS x_sum
               FROM seg1 GROUP BY 1, 2),
        c1 AS (SELECT sd.cell_id,
                 list(coalesce(m1.x_sum / CAST(m1.n AS DOUBLE), sd.oc) ORDER BY sd.d) AS cv
               FROM (SELECT cell_id, d, cv[d + 1] AS oc
                     FROM c0, LATERAL unnest(generate_series(0, 63)) AS t(d)) sd
               LEFT JOIN m1 ON m1.cell_id = sd.cell_id AND m1.dim = sd.d
               GROUP BY sd.cell_id),
        n1 AS (SELECT c0.cell_id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_members
               FROM c0 LEFT JOIN (SELECT cell_id, count(*) AS n FROM a1 GROUP BY 1) cnt
                 USING (cell_id)),
        sse1 AS (SELECT list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b) AS sse
                 FROM (SELECT seg, list_reduce(list(err ORDER BY vec_id), (a, b) -> a + b) AS s_seg
                       FROM (SELECT a1.vec_id, a1.vec_id % 256 AS seg,
                               list_reduce(list_transform(generate_series(1, 64), i ->
                                 (a1.v[i] - c1.cv[i]) * (a1.v[i] - c1.cv[i])), (a, b) -> a + b) AS err
                             FROM a1 JOIN c1 USING (cell_id)) q1 GROUP BY seg) q2),
        a2 AS (SELECT vec_id, v, cell_id FROM (
          SELECT e.vec_id, e.v, c1.cell_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(generate_series(1, 64), i ->
                (e.v[i] - c1.cv[i]) * (e.v[i] - c1.cv[i])), (a, b) -> a + b) ASC,
              c1.cell_id) AS r
          FROM e CROSS JOIN c1) t WHERE r = 1),
        el2 AS (SELECT cell_id, vec_id, i AS dim, v[i + 1] AS x, vec_id % 256 AS seg
                FROM a2, LATERAL unnest(generate_series(0, 63)) AS t(i)),
        seg2 AS (SELECT cell_id, dim, seg, count(*) AS n_seg,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) AS s_seg
                 FROM el2 GROUP BY 1, 2, 3),
        m2 AS (SELECT cell_id, dim, CAST(sum(n_seg) AS BIGINT) AS n,
                 list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b) AS x_sum
               FROM seg2 GROUP BY 1, 2),
        c2 AS (SELECT sd.cell_id,
                 list(coalesce(m2.x_sum / CAST(m2.n AS DOUBLE), sd.oc) ORDER BY sd.d) AS cv
               FROM (SELECT cell_id, d, cv[d + 1] AS oc
                     FROM c1, LATERAL unnest(generate_series(0, 63)) AS t(d)) sd
               LEFT JOIN m2 ON m2.cell_id = sd.cell_id AND m2.dim = sd.d
               GROUP BY sd.cell_id),
        n2 AS (SELECT c0.cell_id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_members
               FROM c0 LEFT JOIN (SELECT cell_id, count(*) AS n FROM a2 GROUP BY 1) cnt
                 USING (cell_id)),
        sse2 AS (SELECT list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b) AS sse
                 FROM (SELECT seg, list_reduce(list(err ORDER BY vec_id), (a, b) -> a + b) AS s_seg
                       FROM (SELECT a2.vec_id, a2.vec_id % 256 AS seg,
                               list_reduce(list_transform(generate_series(1, 64), i ->
                                 (a2.v[i] - c2.cv[i]) * (a2.v[i] - c2.cv[i])), (a, b) -> a + b) AS err
                             FROM a2 JOIN c2 USING (cell_id)) q1 GROUP BY seg) q2)
        SELECT CAST(1 AS BIGINT) AS iter, c1.cell_id, CAST(t.d AS BIGINT) AS dim,
          c1.cv[t.d + 1] AS c, n1.n_members, sse1.sse
        FROM c1 JOIN n1 ON n1.cell_id = c1.cell_id,
          LATERAL unnest(generate_series(0, 63)) AS t(d), sse1
        UNION ALL
        SELECT CAST(2 AS BIGINT) AS iter, c2.cell_id, CAST(t.d AS BIGINT) AS dim,
          c2.cv[t.d + 1] AS c, n2.n_members, sse2.sse
        FROM c2 JOIN n2 ON n2.cell_id = c2.cell_id,
          LATERAL unnest(generate_series(0, 63)) AS t(d), sse2
        ORDER BY iter, cell_id, dim""",
      // s18: assignment CTEs, the NAVIGABLE graph (mutual top-3 over
      // 2-probe candidates — edges span cell boundaries), then the
      // beam walk unrolled — round 0 scores the probe cell, three
      // rounds expand the top-3 frontier along mutual edges,
      // anti-joining everything already visited; top-10 of the
      // visited set.
      "s18_graph_beam" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        ranked AS (SELECT vec_id, cell_id, arank FROM (
          SELECT e.vec_id, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank <= 2),
        cells AS (SELECT vec_id, cell_id FROM ranked WHERE arank = 1),
        g AS (SELECT vec_id, nb_id FROM (
          SELECT a.vec_id, b.vec_id AS nb_id,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) DESC, b.vec_id) AS rank
          FROM ranked a JOIN cells b ON b.cell_id = a.cell_id AND b.vec_id <> a.vec_id
          JOIN e ea ON ea.vec_id = a.vec_id
          JOIN e eb ON eb.vec_id = b.vec_id) t
          WHERE rank <= 3),
        me AS (SELECT g.vec_id AS src, g.nb_id AS dst
               FROM g JOIN g r ON r.vec_id = g.nb_id AND r.nb_id = g.vec_id),
        q AS (SELECT vec_id AS q_id, cell_id AS q_cell FROM cells WHERE vec_id < 5),
        v0 AS (SELECT q.q_id, c.vec_id AS nb_id,
                 list_dot_product(eq.v, en.v) / (eq.nrm * en.nrm) AS cos
               FROM q JOIN cells c ON c.cell_id = q.q_cell AND c.vec_id <> q.q_id
               JOIN e eq ON eq.vec_id = q.q_id
               JOIN e en ON en.vec_id = c.vec_id),
        f0 AS (SELECT q_id, nb_id FROM (
                 SELECT q_id, nb_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS r
                 FROM v0) t WHERE r <= 3),
        n1 AS (SELECT c.q_id, c.nb_id,
                 list_dot_product(eq.v, en.v) / (eq.nrm * en.nrm) AS cos
               FROM (SELECT DISTINCT f.q_id, me.dst AS nb_id
                     FROM f0 f JOIN me ON me.src = f.nb_id
                     WHERE me.dst <> f.q_id
                       AND NOT EXISTS (SELECT 1 FROM v0 v
                             WHERE v.q_id = f.q_id AND v.nb_id = me.dst)) c
               JOIN e eq ON eq.vec_id = c.q_id
               JOIN e en ON en.vec_id = c.nb_id),
        v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM n1),
        f1 AS (SELECT q_id, nb_id FROM (
                 SELECT q_id, nb_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS r
                 FROM n1) t WHERE r <= 3),
        n2 AS (SELECT c.q_id, c.nb_id,
                 list_dot_product(eq.v, en.v) / (eq.nrm * en.nrm) AS cos
               FROM (SELECT DISTINCT f.q_id, me.dst AS nb_id
                     FROM f1 f JOIN me ON me.src = f.nb_id
                     WHERE me.dst <> f.q_id
                       AND NOT EXISTS (SELECT 1 FROM v1 v
                             WHERE v.q_id = f.q_id AND v.nb_id = me.dst)) c
               JOIN e eq ON eq.vec_id = c.q_id
               JOIN e en ON en.vec_id = c.nb_id),
        v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM n2),
        f2 AS (SELECT q_id, nb_id FROM (
                 SELECT q_id, nb_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS r
                 FROM n2) t WHERE r <= 3),
        n3 AS (SELECT c.q_id, c.nb_id,
                 list_dot_product(eq.v, en.v) / (eq.nrm * en.nrm) AS cos
               FROM (SELECT DISTINCT f.q_id, me.dst AS nb_id
                     FROM f2 f JOIN me ON me.src = f.nb_id
                     WHERE me.dst <> f.q_id
                       AND NOT EXISTS (SELECT 1 FROM v2 v
                             WHERE v.q_id = f.q_id AND v.nb_id = me.dst)) c
               JOIN e eq ON eq.vec_id = c.q_id
               JOIN e en ON en.vec_id = c.nb_id),
        v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM n3)
        SELECT q_id, CAST(r AS BIGINT) AS rank, nb_id, cos FROM (
          SELECT q_id, nb_id, cos,
            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS r
          FROM v3) t WHERE r <= 10
        ORDER BY q_id, rank""",
      // s19: the s17 training CTEs through c2 (bit-exact trained
      // codebook), then cosine re-assignment and the s04-style cell
      // probe — every cosine an explicit in-order fold.
      "s19_trained_ivf" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 16),
        a1 AS (SELECT vec_id, v, cell_id FROM (
          SELECT e.vec_id, e.v, c0.cell_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(generate_series(1, 64), i ->
                (e.v[i] - c0.cv[i]) * (e.v[i] - c0.cv[i])), (a, b) -> a + b) ASC,
              c0.cell_id) AS r
          FROM e CROSS JOIN c0) t WHERE r = 1),
        el1 AS (SELECT cell_id, vec_id, i AS dim, v[i + 1] AS x, vec_id % 256 AS seg
                FROM a1, LATERAL unnest(generate_series(0, 63)) AS t(i)),
        seg1 AS (SELECT cell_id, dim, seg, count(*) AS n_seg,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) AS s_seg
                 FROM el1 GROUP BY 1, 2, 3),
        m1 AS (SELECT cell_id, dim, CAST(sum(n_seg) AS BIGINT) AS n,
                 list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b) AS x_sum
               FROM seg1 GROUP BY 1, 2),
        c1 AS (SELECT sd.cell_id,
                 list(coalesce(m1.x_sum / CAST(m1.n AS DOUBLE), sd.oc) ORDER BY sd.d) AS cv
               FROM (SELECT cell_id, d, cv[d + 1] AS oc
                     FROM c0, LATERAL unnest(generate_series(0, 63)) AS t(d)) sd
               LEFT JOIN m1 ON m1.cell_id = sd.cell_id AND m1.dim = sd.d
               GROUP BY sd.cell_id),
        a2 AS (SELECT vec_id, v, cell_id FROM (
          SELECT e.vec_id, e.v, c1.cell_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(generate_series(1, 64), i ->
                (e.v[i] - c1.cv[i]) * (e.v[i] - c1.cv[i])), (a, b) -> a + b) ASC,
              c1.cell_id) AS r
          FROM e CROSS JOIN c1) t WHERE r = 1),
        el2 AS (SELECT cell_id, vec_id, i AS dim, v[i + 1] AS x, vec_id % 256 AS seg
                FROM a2, LATERAL unnest(generate_series(0, 63)) AS t(i)),
        seg2 AS (SELECT cell_id, dim, seg, count(*) AS n_seg,
                   list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) AS s_seg
                 FROM el2 GROUP BY 1, 2, 3),
        m2 AS (SELECT cell_id, dim, CAST(sum(n_seg) AS BIGINT) AS n,
                 list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b) AS x_sum
               FROM seg2 GROUP BY 1, 2),
        c2 AS (SELECT sd.cell_id,
                 list(coalesce(m2.x_sum / CAST(m2.n AS DOUBLE), sd.oc) ORDER BY sd.d) AS cv
               FROM (SELECT cell_id, d, cv[d + 1] AS oc
                     FROM c1, LATERAL unnest(generate_series(0, 63)) AS t(d)) sd
               LEFT JOIN m2 ON m2.cell_id = sd.cell_id AND m2.dim = sd.d
               GROUP BY sd.cell_id),
        assigned AS (SELECT vec_id, v, cell_id FROM (
          SELECT e.vec_id, e.v, c2.cell_id,
            row_number() OVER (PARTITION BY e.vec_id ORDER BY
              list_reduce(list_transform(generate_series(1, 64), i -> e.v[i] * c2.cv[i]), (a, b) -> a + b)
              / (sqrt(list_reduce(list_transform(generate_series(1, 64), i -> e.v[i] * e.v[i]), (a, b) -> a + b))
                 * sqrt(list_reduce(list_transform(generate_series(1, 64), i -> c2.cv[i] * c2.cv[i]), (a, b) -> a + b))) DESC,
              c2.cell_id) AS r
          FROM e CROSS JOIN c2) t WHERE r = 1),
        q AS (SELECT vec_id AS q_id, v AS qv, cell_id AS q_cell
              FROM assigned WHERE vec_id < 5)
        SELECT q_id, CAST(r AS BIGINT) AS rank, vec_id, cos FROM (
          SELECT q.q_id, a.vec_id,
            list_reduce(list_transform(generate_series(1, 64), i -> q.qv[i] * a.v[i]), (x, y) -> x + y)
            / (sqrt(list_reduce(list_transform(generate_series(1, 64), i -> q.qv[i] * q.qv[i]), (x, y) -> x + y))
               * sqrt(list_reduce(list_transform(generate_series(1, 64), i -> a.v[i] * a.v[i]), (x, y) -> x + y))) AS cos,
            row_number() OVER (PARTITION BY q.q_id ORDER BY
              list_reduce(list_transform(generate_series(1, 64), i -> q.qv[i] * a.v[i]), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(generate_series(1, 64), i -> q.qv[i] * q.qv[i]), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(generate_series(1, 64), i -> a.v[i] * a.v[i]), (x, y) -> x + y))) DESC,
              a.vec_id) AS r
          FROM q JOIN assigned a ON a.cell_id = q.q_cell AND a.vec_id <> q.q_id) t
        WHERE r <= 5
        ORDER BY q_id, rank""",
      // s21: the s04 CTEs with the tombstone slice excluded inside the
      // probe (vec_id % 11 <> 3), before the rank window.
      "s21_tombstone_knn" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id AS q_cell
              FROM assigned WHERE vec_id < 5)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT q.q_id, a.vec_id,
            list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) AS cos,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) DESC, a.vec_id) AS rank
          FROM q JOIN assigned a ON a.cell_id = q.q_cell AND a.vec_id <> q.q_id
          WHERE a.vec_id % 11 <> 3) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      // s24: the s20 probe CTEs minus the label, τ = 0.25 applied in
      // the WHERE (before the window, matching the Spark filter→rank
      // order); cosine is the same pinned dot/(nrm·nrm) double.
      // s28: frozen HISTORY range, clipped arrival codes, exact
      // integer dot ranking — all replayed in SQL.
      "s29_kcenter_coreset" -> Similarity.kcenterOracle(10),
      "s30_mmr_rerank" -> Similarity.mmrOracle(5, 12),
      "s35_ils_audit" -> Similarity.ilsOracle(5, 12),
      // s36: identical quantization chain — CAST(float AS DOUBLE) *
      // 10000.0 then floor, every aggregate an exact integer.
      "s36_embedding_health" -> """
        WITH g AS (SELECT vec_id, i,
                     CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000.0) AS BIGINT) AS q
                   FROM embeddings,
                     LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) ii)
        SELECT CAST(i - 1 AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(q) AS BIGINT) AS sum_q, CAST(sum(q * q) AS BIGINT) AS ssq_q,
          CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q,
          CAST(count(*) * sum(q * q) - sum(q) * sum(q) AS BIGINT) AS var_num,
          CAST(count(*) * sum(q * q) - sum(q) * sum(q) AS DOUBLE)
            / CAST(count(*) * count(*) AS DOUBLE) AS var_q
        FROM g GROUP BY i ORDER BY dim""",
      // s31: the s11 assignment CTEs, a per-query cell ranking, and
      // the nprobe unnest — every rank breaks ties on ids.
      "s31_nprobe_sweep" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        ccb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        cells AS (SELECT vec_id, cell_id FROM (
          SELECT e.vec_id, ccb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, ccb.cv) / (e.nrm * ccb.cnrm) DESC, ccb.cell_id) AS arank
          FROM e CROSS JOIN ccb) t WHERE arank = 1),
        qc AS (SELECT q_id, cell_id, crank FROM (
          SELECT q.vec_id AS q_id, ccb.cell_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_dot_product(q.v, ccb.cv) / (q.nrm * ccb.cnrm) DESC, ccb.cell_id) AS crank
          FROM e q CROSS JOIN ccb WHERE q.vec_id < 5) t WHERE crank <= 4),
        cand AS (
          SELECT qc.q_id, np.nprobe, a.vec_id,
            row_number() OVER (PARTITION BY qc.q_id, np.nprobe
              ORDER BY list_dot_product(q.v, a.v) / (q.nrm * a.nrm) DESC, a.vec_id) AS rnk
          FROM qc
          JOIN cells c ON c.cell_id = qc.cell_id
          JOIN e a ON a.vec_id = c.vec_id
          JOIN e q ON q.vec_id = qc.q_id
          CROSS JOIN (SELECT unnest([1, 2, 4]) AS nprobe) np
          WHERE qc.crank <= np.nprobe AND a.vec_id <> qc.q_id),
        top5 AS (SELECT q_id, nprobe, vec_id FROM cand WHERE rnk <= 5),
        exact5 AS (SELECT q_id, vec_id FROM (
          SELECT q.vec_id AS q_id, a.vec_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_dot_product(q.v, a.v) / (q.nrm * a.nrm) DESC, a.vec_id) AS rnk
          FROM e q JOIN e a ON a.vec_id <> q.vec_id
          WHERE q.vec_id < 5) t WHERE rnk <= 5)
        SELECT t.q_id, CAST(t.nprobe AS BIGINT) AS nprobe,
          count(*) AS n_returned,
          CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
          CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall_at_5
        FROM top5 t LEFT JOIN exact5 ex ON ex.q_id = t.q_id AND ex.vec_id = t.vec_id
        GROUP BY t.q_id, t.nprobe ORDER BY t.q_id, t.nprobe""",
      "s28_sq_upsert" -> """
        WITH hist AS (SELECT vec_id, embedding FROM embeddings
                      WHERE vec_id % 7 <> 2),
        st AS (SELECT min(CAST(u.x AS DOUBLE)) AS gmin,
                 max(CAST(u.x AS DOUBLE)) AS gmax
               FROM (SELECT unnest(embedding) AS x FROM hist) u),
        hc AS (SELECT vec_id,
                 list_transform(embedding, e -> CAST(CASE WHEN gmax = gmin THEN 0.0
                   ELSE least(greatest(floor((CAST(e AS DOUBLE) - gmin) * 255.0
                          / (gmax - gmin)), 0.0), 255.0) END AS BIGINT)) AS cv
               FROM hist, st),
        ac AS (SELECT vec_id AS q_id,
                 list_transform(embedding, e -> CAST(CASE WHEN gmax = gmin THEN 0.0
                   ELSE least(greatest(floor((CAST(e AS DOUBLE) - gmin) * 255.0
                          / (gmax - gmin)), 0.0), 255.0) END AS BIGINT)) AS q_cv,
                 CAST(len(list_filter(embedding, e -> CAST(e AS DOUBLE) < gmin
                      OR CAST(e AS DOUBLE) > gmax)) AS BIGINT) AS n_clipped
               FROM embeddings, st WHERE vec_id % 7 = 2),
        dots AS (
          SELECT a.q_id, h.vec_id, a.n_clipped,
            CAST(list_sum(list_transform(generate_series(1, 64),
              i -> h.cv[i] * a.q_cv[i])) AS BIGINT) AS dot
          FROM hc h, ac a WHERE h.vec_id <> a.q_id)
        SELECT * FROM (
          SELECT q_id,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY dot DESC, vec_id) AS rank,
            vec_id, dot, n_clipped
          FROM dots) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      // s27: the s25 signature CTE + 4×4-bit banding — candidates
      // share ≥1 band value, dedup via DISTINCT, full-Hamming rank.
      "s27_srp_banded" -> """
        WITH p AS (
          SELECT j.j, i.i,
            CASE WHEN CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                 THEN 1 ELSE -1 END AS r
          FROM (SELECT unnest(generate_series(0, 15)) AS j) j,
               (SELECT unnest(generate_series(0, 63)) AS i) i),
        e AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
          FROM embeddings),
        dots AS (
          SELECT e.vec_id, p.j, sum(p.r * e.qv[p.i + 1]) AS dot
          FROM e, p GROUP BY e.vec_id, p.j),
        sigs AS (
          SELECT vec_id,
            CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j
                          ELSE 0 END) AS BIGINT) AS sig
          FROM dots GROUP BY vec_id),
        bands AS (
          SELECT vec_id, sig, b.b AS band, (sig >> (4 * b.b)) & 15 AS bval
          FROM sigs, (SELECT unnest(generate_series(0, 3)) AS b) b),
        cand AS (
          SELECT DISTINCT q.vec_id AS q_id, q.sig AS q_sig,
            s.vec_id, s.sig
          FROM bands s JOIN bands q
            ON s.band = q.band AND s.bval = q.bval
               AND q.vec_id < 5 AND s.vec_id <> q.vec_id)
        SELECT * FROM (
          SELECT q_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY CAST(bit_count(xor(sig, q_sig)) AS BIGINT), vec_id)
              AS rank,
            vec_id,
            CAST(bit_count(xor(sig, q_sig)) AS BIGINT) AS hamming
          FROM cand) t
        WHERE rank <= 8 ORDER BY q_id, rank""",
      // s26: the s25 signature CTE with the upsert slice split —
      // arrivals (vec_id ≡ 2 mod 7) query, history serves.
      "s26_srp_upsert" -> """
        WITH p AS (
          SELECT j.j, i.i,
            CASE WHEN CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                 THEN 1 ELSE -1 END AS r
          FROM (SELECT unnest(generate_series(0, 15)) AS j) j,
               (SELECT unnest(generate_series(0, 63)) AS i) i),
        e AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
          FROM embeddings),
        dots AS (
          SELECT e.vec_id, p.j, sum(p.r * e.qv[p.i + 1]) AS dot
          FROM e, p GROUP BY e.vec_id, p.j),
        sigs AS (
          SELECT vec_id,
            CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j
                          ELSE 0 END) AS BIGINT) AS sig
          FROM dots GROUP BY vec_id),
        ranked AS (
          SELECT q.vec_id AS q_id, s.vec_id,
            CAST(bit_count(xor(s.sig, q.sig)) AS BIGINT) AS hamming
          FROM sigs s JOIN sigs q
            ON q.vec_id % 7 = 2 AND s.vec_id % 7 <> 2
               AND s.vec_id <> q.vec_id)
        SELECT * FROM (
          SELECT q_id,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY hamming, vec_id) AS rank,
            vec_id, hamming
          FROM ranked) t
        WHERE rank <= 8 ORDER BY q_id, rank""",
      // s25: replays the md5-seeded ±1 planes, the floor(x·10⁴)
      // integer quantization, the sign bits and the Hamming ranking —
      // all integer arithmetic, so the hash check is order-free.
      // s33: the s04 assignment, s27 band, and s01 brute chains
      // reduced to per-query candidate counts + top-5 intersections.
      // s34: the s04 assignment CTE; normalized sums fold (vec_id
      // within %256 segment, segment across), dots are
      // list_dot_product == vec_dot; a/b/s the same IEEE chains.
      "s34_silhouette" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        comp AS (SELECT cell_id, vec_id, vec_id % 256 AS seg, i, v[i] / nrm AS nv
                 FROM assigned, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) ii),
        segs AS (SELECT cell_id, i, seg,
                   list_reduce(list(nv ORDER BY vec_id), (a, b) -> a + b) AS s_seg
                 FROM comp GROUP BY cell_id, i, seg),
        sums AS (SELECT cell_id, i,
                   list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b) AS s_cd
                 FROM segs GROUP BY cell_id, i),
        svec AS (SELECT cell_id, list(s_cd ORDER BY i) AS s_vec FROM sums GROUP BY cell_id),
        nc AS (SELECT cell_id, count(*) AS n_c FROM assigned GROUP BY cell_id),
        cells AS (SELECT svec.cell_id AS c2, s_vec, n_c
                  FROM svec JOIN nc ON svec.cell_id = nc.cell_id),
        mc AS (SELECT a.vec_id, a.cell_id, c.c2, c.n_c,
                 list_dot_product(a.v, c.s_vec) / a.nrm AS dots,
                 list_dot_product(a.v, a.v) / (a.nrm * a.nrm) AS own
               FROM assigned a CROSS JOIN cells c),
        m2 AS (SELECT vec_id, cell_id, c2, n_c,
                 CASE WHEN c2 = cell_id THEN (dots - own) / CAST(n_c - 1 AS DOUBLE)
                      ELSE dots / CAST(n_c AS DOUBLE) END AS meanc
               FROM mc),
        g AS (SELECT vec_id, cell_id,
                max(CASE WHEN c2 = cell_id THEN meanc END) AS a_sim,
                max(CASE WHEN c2 <> cell_id THEN meanc END) AS b_sim,
                max(CASE WHEN c2 = cell_id THEN n_c END) AS n_own
              FROM m2 GROUP BY vec_id, cell_id)
        SELECT vec_id, cell_id,
          CAST(1.0 AS DOUBLE) - a_sim AS a_dist,
          CAST(1.0 AS DOUBLE) - b_sim AS b_dist,
          CASE WHEN n_own = 1 OR
                 greatest(CAST(1.0 AS DOUBLE) - a_sim, CAST(1.0 AS DOUBLE) - b_sim) = 0.0
               THEN 0.0
               ELSE ((CAST(1.0 AS DOUBLE) - b_sim) - (CAST(1.0 AS DOUBLE) - a_sim))
                    / greatest(CAST(1.0 AS DOUBLE) - a_sim, CAST(1.0 AS DOUBLE) - b_sim)
          END AS sil
        FROM g ORDER BY vec_id""",
      "s33_serving_cost" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id AS q_cell
              FROM assigned WHERE vec_id < 5),
        nivf AS (SELECT q.q_id, count(*) AS n_cand_ivf
                 FROM q JOIN assigned a
                   ON a.cell_id = q.q_cell AND a.vec_id <> q.q_id
                 GROUP BY 1),
        ivf5 AS (SELECT q_id, vec_id FROM (
          SELECT q.q_id, a.vec_id,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) DESC, a.vec_id) AS rank
          FROM q JOIN assigned a ON a.cell_id = q.q_cell AND a.vec_id <> q.q_id) t
          WHERE rank <= 5),
        p AS (
          SELECT j.j, i.i,
            CASE WHEN CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                 THEN 1 ELSE -1 END AS r
          FROM (SELECT unnest(generate_series(0, 15)) AS j) j,
               (SELECT unnest(generate_series(0, 63)) AS i) i),
        eq AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
          FROM embeddings),
        dots AS (
          SELECT eq.vec_id, p.j, sum(p.r * eq.qv[p.i + 1]) AS dot
          FROM eq, p GROUP BY eq.vec_id, p.j),
        sigs AS (
          SELECT vec_id,
            CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j
                          ELSE 0 END) AS BIGINT) AS sig
          FROM dots GROUP BY vec_id),
        bands AS (
          SELECT vec_id, sig, b.b AS band, (sig >> (4 * b.b)) & 15 AS bval
          FROM sigs, (SELECT unnest(generate_series(0, 3)) AS b) b),
        scand AS (
          SELECT DISTINCT bq.vec_id AS q_id, bs.vec_id, bq.sig AS q_sig, bs.sig
          FROM bands bs JOIN bands bq
            ON bs.band = bq.band AND bs.bval = bq.bval
               AND bq.vec_id < 5 AND bs.vec_id <> bq.vec_id),
        nsrp AS (SELECT q_id, count(*) AS n_cand_srp FROM scand GROUP BY 1),
        srp5 AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id
              ORDER BY CAST(bit_count(xor(sig, q_sig)) AS BIGINT), vec_id) AS rank
          FROM scand) t WHERE rank <= 5),
        b5 AS (SELECT q_id, vec_id FROM (
          SELECT q.q_id, a.vec_id,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) DESC, a.vec_id) AS rank
          FROM q JOIN e a ON a.vec_id <> q.q_id) t WHERE rank <= 5),
        tot AS (SELECT count(*) AS n_total FROM embeddings),
        rivf AS (SELECT i.q_id,
                   CAST(count(b.vec_id) AS DOUBLE) / 5 AS recall_ivf
                 FROM ivf5 i LEFT JOIN b5 b
                   ON i.q_id = b.q_id AND i.vec_id = b.vec_id GROUP BY 1),
        rsrp AS (SELECT s.q_id,
                   CAST(count(b.vec_id) AS DOUBLE) / 5 AS recall_srp
                 FROM srp5 s LEFT JOIN b5 b
                   ON s.q_id = b.q_id AND s.vec_id = b.vec_id GROUP BY 1)
        SELECT nivf.q_id, tot.n_total - 1 AS n_cand_brute,
          nivf.n_cand_ivf, nsrp.n_cand_srp, rivf.recall_ivf, rsrp.recall_srp
        FROM nivf
        JOIN nsrp ON nivf.q_id = nsrp.q_id
        JOIN rivf ON nivf.q_id = rivf.q_id
        JOIN rsrp ON nivf.q_id = rsrp.q_id
        CROSS JOIN tot
        ORDER BY nivf.q_id""",
      // s32: the s04 and s25 chains verbatim, full-outer-joined per
      // (q_id, vec_id); each RRF term one IEEE divide of exact ints,
      // summed in the same fixed ivf+srp order as the Spark column.
      "s32_rrf_fusion" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id AS q_cell
              FROM assigned WHERE vec_id < 5),
        ivf AS (SELECT q_id, vec_id, rank AS ivf_rank FROM (
          SELECT q.q_id, a.vec_id,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) DESC, a.vec_id) AS rank
          FROM q JOIN assigned a ON a.cell_id = q.q_cell AND a.vec_id <> q.q_id) t
          WHERE rank <= 5),
        p AS (
          SELECT j.j, i.i,
            CASE WHEN CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                 THEN 1 ELSE -1 END AS r
          FROM (SELECT unnest(generate_series(0, 15)) AS j) j,
               (SELECT unnest(generate_series(0, 63)) AS i) i),
        eq AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
          FROM embeddings),
        dots AS (
          SELECT eq.vec_id, p.j, sum(p.r * eq.qv[p.i + 1]) AS dot
          FROM eq, p GROUP BY eq.vec_id, p.j),
        sigs AS (
          SELECT vec_id,
            CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j
                          ELSE 0 END) AS BIGINT) AS sig
          FROM dots GROUP BY vec_id),
        srp AS (SELECT q_id, vec_id, rank AS srp_rank FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY hamming, vec_id) AS rank
          FROM (SELECT q.vec_id AS q_id, s.vec_id,
                  CAST(bit_count(xor(s.sig, q.sig)) AS BIGINT) AS hamming
                FROM sigs s JOIN sigs q
                  ON q.vec_id < 5 AND s.vec_id <> q.vec_id) r) t
          WHERE rank <= 8),
        f AS (
          SELECT COALESCE(i.q_id, s.q_id) AS q_id,
            COALESCE(i.vec_id, s.vec_id) AS vec_id,
            i.ivf_rank, s.srp_rank,
            COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(i.ivf_rank AS DOUBLE)),
                     CAST(0 AS DOUBLE))
            + COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(s.srp_rank AS DOUBLE)),
                       CAST(0 AS DOUBLE)) AS rrf
          FROM ivf i FULL OUTER JOIN srp s
            ON i.q_id = s.q_id AND i.vec_id = s.vec_id)
        SELECT q_id, fused_rank, vec_id, ivf_rank, srp_rank, rrf FROM (
          SELECT q_id, vec_id, ivf_rank, srp_rank, rrf,
            row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, vec_id) AS fused_rank
          FROM f) t
        WHERE fused_rank <= 8 ORDER BY q_id, fused_rank""",
      "s25_srp_hamming" -> """
        WITH p AS (
          SELECT j.j, i.i,
            CASE WHEN CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 1)) AS BIGINT) % 2 = 0
                 THEN 1 ELSE -1 END AS r
          FROM (SELECT unnest(generate_series(0, 15)) AS j) j,
               (SELECT unnest(generate_series(0, 63)) AS i) i),
        e AS (
          SELECT vec_id,
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv
          FROM embeddings),
        dots AS (
          SELECT e.vec_id, p.j, sum(p.r * e.qv[p.i + 1]) AS dot
          FROM e, p GROUP BY e.vec_id, p.j),
        sigs AS (
          SELECT vec_id,
            CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j
                          ELSE 0 END) AS BIGINT) AS sig
          FROM dots GROUP BY vec_id),
        ranked AS (
          SELECT q.vec_id AS q_id, s.vec_id,
            CAST(bit_count(xor(s.sig, q.sig)) AS BIGINT) AS hamming
          FROM sigs s JOIN sigs q
            ON q.vec_id < 5 AND s.vec_id <> q.vec_id)
        SELECT * FROM (
          SELECT q_id,
            row_number() OVER (PARTITION BY q_id
                               ORDER BY hamming, vec_id) AS rank,
            vec_id, hamming
          FROM ranked) t
        WHERE rank <= 8 ORDER BY q_id, rank""",
      "s24_radius_search" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm,
                 cell_id AS probe_cell FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb WHERE e.vec_id < 5) t WHERE arank <= 2)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT q.q_id, a.vec_id,
            list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) AS cos,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) DESC, a.vec_id) AS rank
          FROM qp q JOIN assigned a
            ON a.cell_id = q.probe_cell AND a.vec_id <> q.q_id
          WHERE list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) >= 0.25) t
        ORDER BY q_id, rank""",
      // s23: the s06/s08 PQ CTEs with the historical slice — codebook
      // and codes from vec_id % 7 <> 2, arrivals' distance tables
      // joined to the codes by (m, k), rank by (adc2, vec_id).
      "s23_pq_upsert" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sub AS (SELECT vec_id, m, v[16*m+1 : 16*m+16] AS sv
                FROM e, (SELECT unnest(generate_series(0, 3)) AS m) mm),
        cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub
               WHERE vec_id < 16 AND vec_id % 7 <> 2),
        dists AS (SELECT s.vec_id, s.m, cb.k,
                    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv)
                      + list_dot_product(cb.cv, cb.cv) AS d
                  FROM sub s JOIN cb ON s.m = cb.m),
        enc AS (SELECT vec_id, m, k AS code FROM (
                  SELECT vec_id, m, k,
                    row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k) AS rnk
                  FROM dists WHERE vec_id % 7 <> 2) t WHERE rnk = 1),
        adc AS (SELECT qd.vec_id AS q_id, enc.vec_id AS vec_id,
                  max(CASE WHEN enc.m = 0 THEN qd.d END) + max(CASE WHEN enc.m = 1 THEN qd.d END)
                  + max(CASE WHEN enc.m = 2 THEN qd.d END) + max(CASE WHEN enc.m = 3 THEN qd.d END) AS adc2
                FROM enc JOIN dists qd ON qd.m = enc.m AND qd.k = enc.code
                WHERE qd.vec_id % 7 = 2
                GROUP BY qd.vec_id, enc.vec_id)
        SELECT q_id, srank, vec_id, adc2 FROM (
          SELECT q_id, vec_id, adc2,
            row_number() OVER (PARTITION BY q_id ORDER BY adc2 ASC, vec_id) AS srank
          FROM adc) t
        WHERE srank <= 5 ORDER BY q_id, srank""",
      // s22: the s04 argmax replayed twice over the HISTORICAL slice —
      // history assigned over the frozen historical codebook (cells
      // seed from vec_id < 16 within the slice), then arrivals
      // (vec_id ≡ 2 mod 7) assigned over the same codebook and ranked
      // within their assigned cell.
      "s22_ivf_upsert" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        hcb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e
                WHERE vec_id < 16 AND vec_id % 7 <> 2),
        hassigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, hcb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, hcb.cv) / (e.nrm * hcb.cnrm) DESC, hcb.cell_id) AS arank
          FROM e CROSS JOIN hcb WHERE e.vec_id % 7 <> 2) t WHERE arank = 1),
        arr AS (SELECT q_id, qv, qnrm, q_cell FROM (
          SELECT e.vec_id AS q_id, e.v AS qv, e.nrm AS qnrm, hcb.cell_id AS q_cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, hcb.cv) / (e.nrm * hcb.cnrm) DESC, hcb.cell_id) AS arank
          FROM e CROSS JOIN hcb WHERE e.vec_id % 7 = 2) t WHERE arank = 1)
        SELECT q_id, cell_id, rank, vec_id, cos FROM (
          SELECT arr.q_id, arr.q_cell AS cell_id, h.vec_id,
            list_dot_product(arr.qv, h.v) / (arr.qnrm * h.nrm) AS cos,
            row_number() OVER (PARTITION BY arr.q_id
              ORDER BY list_dot_product(arr.qv, h.v) / (arr.qnrm * h.nrm) DESC, h.vec_id) AS rank
          FROM arr JOIN hassigned h ON h.cell_id = arr.q_cell) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      // s20: the s04 assignment CTE + labels; queries take their TWO
      // nearest cells (arank <= 2), label filter inside the probe.
      "s20_filtered_knn" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        corp AS (SELECT a.vec_id, a.v, a.nrm, a.cell_id, l.label
                 FROM assigned a JOIN embeddings l ON a.vec_id = l.vec_id),
        qp AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, label AS q_label,
                 cell_id AS probe_cell FROM (
          SELECT e.vec_id, e.v, e.nrm, l.label, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e JOIN embeddings l ON e.vec_id = l.vec_id CROSS JOIN cb
          WHERE e.vec_id < 5) t WHERE arank <= 2)
        SELECT q_id, q_label, rank, vec_id, cos FROM (
          SELECT q.q_id, q.q_label, a.vec_id,
            list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) AS cos,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) DESC, a.vec_id) AS rank
          FROM qp q JOIN corp a ON a.cell_id = q.probe_cell
            AND a.label = q.q_label AND a.vec_id <> q.q_id) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      // m15: per-frame aHash recomputed from the GIF generator formula
      // (the m11 cell-sum chain with the frame dimension added), then
      // the digest-keyed two-level aggregate; a hash match proves the
      // Spark side decoded real frame sequences through a real codec.
      // m20: the m15 per-frame hash CTEs (generator formula through
      // the aHash quantization), then the same gaps-and-islands
      // rewrite — lag over frame order, running new-scene sum, scene
      // lengths, per-video rollup.
      // m25: m20's frame/hash/scene CTEs carried one step further to
      // per-scene keyframe rows (a scene is a run of one hash value).
      "m25_keyframes" -> ("""
        WITH """ + graft.ops.Multimodal.gifAhashReplaySql + """,
        sc AS (SELECT doc_id, f, hi, lo,
                 lag(hi) OVER (PARTITION BY doc_id ORDER BY f) AS phi,
                 lag(lo) OVER (PARTITION BY doc_id ORDER BY f) AS plo
               FROM hx),
        scenes AS (SELECT doc_id, f, hi, lo,
                     CAST(sum(CASE WHEN phi IS NULL OR phi <> hi OR plo <> lo
                                   THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY f) AS BIGINT) AS scene_id
                   FROM sc)
        SELECT doc_id, scene_id, CAST(min(f) AS BIGINT) AS keyframe_no,
          count(*) AS scene_len, min(hi) AS ahash_hi, min(lo) AS ahash_lo
        FROM scenes GROUP BY doc_id, scene_id ORDER BY doc_id, scene_id"""),
      "m20_scene_changes" -> ("""
        WITH """ + graft.ops.Multimodal.gifAhashReplaySql + """,
        sc AS (SELECT doc_id, f, hi, lo,
                 lag(hi) OVER (PARTITION BY doc_id ORDER BY f) AS phi,
                 lag(lo) OVER (PARTITION BY doc_id ORDER BY f) AS plo
               FROM hx),
        flags AS (SELECT doc_id, f,
                    CASE WHEN phi IS NULL OR phi <> hi OR plo <> lo
                         THEN 1 ELSE 0 END AS new_scene
                  FROM sc),
        scenes AS (SELECT doc_id, f,
                     CAST(sum(new_scene) OVER (PARTITION BY doc_id ORDER BY f)
                       AS BIGINT) AS scene_id
                   FROM flags),
        lens AS (SELECT doc_id, scene_id, count(*) AS len
                 FROM scenes GROUP BY 1, 2)
        SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_frames,
          count(*) AS n_scenes, count(*) - 1 AS n_cuts,
          max(len) AS longest_scene
        FROM lens GROUP BY doc_id ORDER BY doc_id"""),
      "m15_video_frame_dedup" -> ("""
        WITH """ + graft.ops.Multimodal.gifAhashReplaySql + """,
        pv AS (SELECT hi, lo, doc_id, count(*) AS n_occ,
                 min(doc_id * 1024 + f) AS min_fid
               FROM hx GROUP BY hi, lo, doc_id)
        SELECT hi AS ahash_hi, lo AS ahash_lo, count(*) AS n_videos,
          CAST(sum(n_occ) AS BIGINT) AS n_frames,
          min(min_fid) // 1024 AS min_doc_id, min(min_fid) % 1024 AS min_frame
        FROM pv GROUP BY hi, lo HAVING count(*) >= 2
        ORDER BY ahash_hi, ahash_lo"""),
      // m16: the m15 frame-hash CTE, then consecutive-frame 2-grams
      // (exact 128-bit keys), the d12 df cap, and pair Jaccard over
      // shared rare grams — intersections count capped grams only,
      // denominators keep full per-video gram counts.
      "m16_video_seq_neardup" -> ("""
        WITH """ + graft.ops.Multimodal.gifAhashReplaySql + """,
        grams AS (SELECT DISTINCT a.doc_id, a.hi AS g1h, a.lo AS g1l,
                    b.hi AS g2h, b.lo AS g2l
                  FROM hx a JOIN hx b ON b.doc_id = a.doc_id AND b.f = a.f + 1),
        ng AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        rare AS (SELECT g1h, g1l, g2h, g2l FROM grams
                 GROUP BY 1, 2, 3, 4 HAVING count(*) <= 64),
        capped AS (SELECT g.* FROM grams g
                   JOIN rare r ON g.g1h = r.g1h AND g.g1l = r.g1l
                              AND g.g2h = r.g2h AND g.g2l = r.g2l),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                  FROM capped a JOIN capped b
                    ON a.g1h = b.g1h AND a.g1l = b.g1l
                   AND a.g2h = b.g2h AND a.g2l = b.g2l
                   AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b, na.n AS na, nb.n AS nb, p.inter,
          CAST(p.inter AS DOUBLE) / (na.n + nb.n - p.inter) AS jaccard
        FROM pairs p JOIN ng na ON na.doc_id = p.doc_a
                     JOIN ng nb ON nb.doc_id = p.doc_b
        WHERE CAST(p.inter AS DOUBLE) / (na.n + nb.n - p.inter) >= 0.5
        ORDER BY doc_a, doc_b"""),
      // m17: the m15 frame-hash CTE, split new (doc_id%5=0) vs
      // history; per new video the distinct-hash match count against
      // the history's earliest-carrier digest index.
      "m17_incremental_video" -> ("""
        WITH """ + graft.ops.Multimodal.gifAhashReplaySql + """,
        nf2 AS (SELECT doc_id, count(*) AS n_frames FROM hx
                WHERE doc_id % 5 = 0 GROUP BY doc_id),
        nd AS (SELECT doc_id, hi, lo FROM hx WHERE doc_id % 5 = 0
               GROUP BY doc_id, hi, lo),
        ndc AS (SELECT doc_id, count(*) AS n_distinct FROM nd GROUP BY doc_id),
        hm AS (SELECT hi, lo, min(doc_id) AS hist_doc FROM hx
               WHERE doc_id % 5 <> 0 GROUP BY hi, lo),
        mt AS (SELECT nd.doc_id, count(*) AS n_matched,
                 min(hm.hist_doc) AS first_hist
               FROM nd JOIN hm ON hm.hi = nd.hi AND hm.lo = nd.lo
               GROUP BY nd.doc_id)
        SELECT nf2.doc_id, nf2.n_frames, ndc.n_distinct,
          CAST(coalesce(mt.n_matched, 0) AS BIGINT) AS n_matched,
          CAST(coalesce(mt.n_matched, 0) AS DOUBLE)
            / CAST(ndc.n_distinct AS DOUBLE) AS match_frac,
          mt.first_hist
        FROM nf2 JOIN ndc ON ndc.doc_id = nf2.doc_id
        LEFT JOIN mt ON mt.doc_id = nf2.doc_id
        ORDER BY nf2.doc_id"""),
      // m18: the m14 energy CTE restricted to arrivals-probe-history
      // (doc_id % 5 split), rank-1 by (L1, candidate id), LEFT join so
      // every arrival appears.
      "m18_incremental_audio" -> """
        WITH f AS (SELECT doc_id, CAST(200 + doc_id % 400 AS BIGINT) AS n FROM documents),
        e AS (SELECT doc_id, (n + 63) // 64 AS n_frames, fr,
                CAST(list_sum(list_transform(
                  generate_series(CAST(fr * 64 AS INTEGER),
                                  CAST(least(n, fr * 64 + 64) AS INTEGER) - 1),
                  i -> ((doc_id * 7919 + i * 104729) % 65536 - 32768) *
                       ((doc_id * 7919 + i * 104729) % 65536 - 32768))) AS BIGINT) AS energy
              FROM f, LATERAL unnest(generate_series(0, CAST((n + 63) // 64 AS INTEGER) - 1))
                      AS t(fr)),
        pairs AS (SELECT q.doc_id, c.doc_id AS c_id,
                    CAST(sum(abs(q.energy - c.energy)) AS BIGINT) AS l1
                  FROM e q JOIN e c ON c.n_frames = q.n_frames AND c.fr = q.fr
                  WHERE q.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
                  GROUP BY q.doc_id, c.doc_id),
        best AS (SELECT doc_id, c_id AS nn_id, l1 AS l1_dist FROM (
                   SELECT doc_id, c_id, l1,
                     row_number() OVER (PARTITION BY doc_id ORDER BY l1 ASC, c_id) AS r
                   FROM pairs) t WHERE r = 1)
        SELECT a.doc_id, a.n_frames, b.nn_id, b.l1_dist
        FROM (SELECT doc_id, (n + 63) // 64 AS n_frames FROM f
              WHERE doc_id % 5 = 0) a
        LEFT JOIN best b ON a.doc_id = b.doc_id
        ORDER BY a.doc_id""",
      "m14_audio_nn" -> """
        WITH f AS (SELECT doc_id, CAST(200 + doc_id % 400 AS BIGINT) AS n FROM documents),
        e AS (SELECT doc_id, (n + 63) // 64 AS n_frames, fr,
                CAST(list_sum(list_transform(
                  generate_series(CAST(fr * 64 AS INTEGER),
                                  CAST(least(n, fr * 64 + 64) AS INTEGER) - 1),
                  i -> ((doc_id * 7919 + i * 104729) % 65536 - 32768) *
                       ((doc_id * 7919 + i * 104729) % 65536 - 32768))) AS BIGINT) AS energy
              FROM f, LATERAL unnest(generate_series(0, CAST((n + 63) // 64 AS INTEGER) - 1))
                      AS t(fr)),
        pairs AS (SELECT q.doc_id AS q_id, c.doc_id AS c_id,
                    CAST(min(q.n_frames) AS BIGINT) AS n_frames,
                    CAST(sum(abs(q.energy - c.energy)) AS BIGINT) AS l1
                  FROM e q JOIN e c ON c.n_frames = q.n_frames AND c.fr = q.fr
                                   AND c.doc_id <> q.doc_id
                  WHERE q.doc_id < 50
                  GROUP BY q.doc_id, c.doc_id)
        SELECT doc_id, nn_id, n_frames, l1_dist FROM (
          SELECT q_id AS doc_id, c_id AS nn_id, n_frames, l1 AS l1_dist,
            row_number() OVER (PARTITION BY q_id ORDER BY l1 ASC, c_id) AS r
          FROM pairs) t WHERE r = 1 ORDER BY doc_id""",
      // Recomputes the GIF generator formula (2 + id % 4 frames of
      // (6 + id % 10) x (6 + (id/10) % 10), gray pixel
      // (id*31 + f*17 + 7x + 13y) % 256) — the Spark side gets these
      // numbers by DECODING real multi-frame GIF bytes; the
      // frame-index-weighted sum pins the decoded frame ORDER.
      "m07_gif_frames" -> """
        SELECT doc_id,
          2 + doc_id % 4 AS n_frames,
          6 + doc_id % 10 AS width,
          6 + (doc_id // 10) % 10 AS height,
          CAST(list_sum(list_transform(generate_series(0, 2 + doc_id % 4 - 1), f ->
            list_sum(flatten(list_transform(
              generate_series(0, 6 + (doc_id // 10) % 10 - 1), y ->
                list_transform(generate_series(0, 6 + doc_id % 10 - 1), x ->
                  (doc_id * 31 + f * 17 + 7 * x + 13 * y) % 256)))))) AS BIGINT) AS pix_sum,
          CAST(list_sum(list_transform(generate_series(0, 2 + doc_id % 4 - 1), f ->
            (f + 1) * list_sum(flatten(list_transform(
              generate_series(0, 6 + (doc_id // 10) % 10 - 1), y ->
                list_transform(generate_series(0, 6 + doc_id % 10 - 1), x ->
                  (doc_id * 31 + f * 17 + 7 * x + 13 * y) % 256)))))) AS BIGINT) AS pix_wsum
        FROM documents ORDER BY doc_id""",
      "m11_image_dups" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        t AS (SELECT doc_id, w, h,
                CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                  list_transform(generate_series(0, w - 1), x ->
                    (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS total
              FROM d),
        cells AS (SELECT doc_id, w, h, total, i, j,
                    (i * w) // 8 AS x0, ((i + 1) * w) // 8 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM t,
                    (SELECT unnest(generate_series(0, 7)) AS i) ii,
                    (SELECT unnest(generate_series(0, 7)) AS j) jj),
        cs AS (SELECT doc_id, w, h, total, i, j,
                 (x1 - x0) * (y1 - y0) AS np,
                 CAST(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                   list_transform(generate_series(x0, x1 - 1), x ->
                     (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS csum
               FROM cells),
        bits AS (SELECT doc_id, 8 * j + i AS b,
                   CASE WHEN csum * w * h > total * np THEN 1 ELSE 0 END AS bit
                 FROM cs),
        hx AS (SELECT doc_id,
                 CAST(sum(CASE WHEN b >= 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(sum(CASE WHEN b < 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo
               FROM bits GROUP BY doc_id),
        bd AS (SELECT doc_id, hi, lo, bb.band,
                 CASE bb.band WHEN 0 THEN lo & 65535
                              WHEN 1 THEN (lo >> 16) & 65535
                              WHEN 2 THEN hi & 65535
                              ELSE (hi >> 16) & 65535 END AS bval
               FROM hx, (SELECT unnest(generate_series(0, 3)) AS band) bb)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
        FROM bd a JOIN bd b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
        ORDER BY doc_a, doc_b""",
      // m12: the m11 aHash + band-pair chain, then the d11 recursive
      // reachability CTE for clusters, then per-cluster savings charged
      // by the generator-formula pixel counts (the Spark side gets the
      // same numbers by DECODING real PNG bytes).
      "m12_image_dedup_report" -> """
        WITH RECURSIVE
        d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
              FROM documents),
        t AS (SELECT doc_id, w, h,
                CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                  list_transform(generate_series(0, w - 1), x ->
                    (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS total
              FROM d),
        cells AS (SELECT doc_id, w, h, total, i, j,
                    (i * w) // 8 AS x0, ((i + 1) * w) // 8 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM t,
                    (SELECT unnest(generate_series(0, 7)) AS i) ii,
                    (SELECT unnest(generate_series(0, 7)) AS j) jj),
        cs AS (SELECT doc_id, w, h, total, i, j,
                 (x1 - x0) * (y1 - y0) AS np,
                 CAST(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                   list_transform(generate_series(x0, x1 - 1), x ->
                     (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS csum
               FROM cells),
        bits AS (SELECT doc_id, 8 * j + i AS b,
                   CASE WHEN csum * w * h > total * np THEN 1 ELSE 0 END AS bit
                 FROM cs),
        hx AS (SELECT doc_id,
                 CAST(sum(CASE WHEN b >= 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(sum(CASE WHEN b < 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo
               FROM bits GROUP BY doc_id),
        bd AS (SELECT doc_id, hi, lo, bb.band,
                 CASE bb.band WHEN 0 THEN lo & 65535
                              WHEN 1 THEN (lo >> 16) & 65535
                              WHEN 2 THEN hi & 65535
                              ELSE (hi >> 16) & 65535 END AS bval
               FROM hx, (SELECT unnest(generate_series(0, 3)) AS band) bb),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bd a JOIN bd b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
                  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
        cl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
               FROM walk GROUP BY node)
        SELECT cluster_id, count(*) AS n_members,
          count(*) - 1 AS n_dropped,
          CAST(sum(CASE WHEN cl.doc_id <> cluster_id THEN d.w * d.h ELSE 0 END) AS BIGINT) AS px_dropped
        FROM cl JOIN d ON cl.doc_id = d.doc_id
        GROUP BY cluster_id ORDER BY cluster_id""",
      // m13: the m11 hash+band chain split into the d14 slices — new
      // arrivals (doc_id%5=0) band-join the historical sidecar
      // (doc_id%5<>0), Hamming <= 2 verifies, each matched new image
      // reports its lowest-id historical match.
      "m13_incremental_image" -> """
        WITH d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
                   FROM documents),
        t AS (SELECT doc_id, w, h,
                CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                  list_transform(generate_series(0, w - 1), x ->
                    (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS total
              FROM d),
        cells AS (SELECT doc_id, w, h, total, i, j,
                    (i * w) // 8 AS x0, ((i + 1) * w) // 8 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM t,
                    (SELECT unnest(generate_series(0, 7)) AS i) ii,
                    (SELECT unnest(generate_series(0, 7)) AS j) jj),
        cs AS (SELECT doc_id, w, h, total, i, j,
                 (x1 - x0) * (y1 - y0) AS np,
                 CAST(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                   list_transform(generate_series(x0, x1 - 1), x ->
                     (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS csum
               FROM cells),
        bits AS (SELECT doc_id, 8 * j + i AS b,
                   CASE WHEN csum * w * h > total * np THEN 1 ELSE 0 END AS bit
                 FROM cs),
        hx AS (SELECT doc_id,
                 CAST(sum(CASE WHEN b >= 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(sum(CASE WHEN b < 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo
               FROM bits GROUP BY doc_id),
        bd AS (SELECT doc_id, hi, lo, bb.band,
                 CASE bb.band WHEN 0 THEN lo & 65535
                              WHEN 1 THEN (lo >> 16) & 65535
                              WHEN 2 THEN hi & 65535
                              ELSE (hi >> 16) & 65535 END AS bval
               FROM hx, (SELECT unnest(generate_series(0, 3)) AS band) bb),
        probes AS (SELECT DISTINCT a.doc_id, b.doc_id AS dup_of,
                     CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
                   FROM bd a JOIN bd b ON a.band = b.band AND a.bval = b.bval
                   WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                     AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2)
        SELECT doc_id, dup_of, hamming FROM (
          SELECT doc_id, dup_of, hamming,
            row_number() OVER (PARTITION BY doc_id ORDER BY dup_of) AS r
          FROM probes) z
        WHERE r = 1 ORDER BY doc_id""",
      "m10_png_resize" -> """
        WITH d AS (SELECT doc_id, (8 + doc_id % 25) // 2 AS ow,
                     (8 + (doc_id // 25) % 25) // 2 AS oh
                   FROM documents),
        px AS (SELECT doc_id, ow, oh, j, i,
                 (((doc_id * 31 + 7 * (2*i) + 13 * (2*j)) % 256)
                  + ((doc_id * 31 + 7 * (2*i+1) + 13 * (2*j)) % 256)
                  + ((doc_id * 31 + 7 * (2*i) + 13 * (2*j+1)) % 256)
                  + ((doc_id * 31 + 7 * (2*i+1) + 13 * (2*j+1)) % 256)) // 4 AS v
               FROM d,
                 LATERAL (SELECT unnest(generate_series(0, oh - 1)) AS j) jj,
                 LATERAL (SELECT unnest(generate_series(0, ow - 1)) AS i) ii)
        SELECT doc_id, ow AS out_w, oh AS out_h,
          CAST(sum(v) AS BIGINT) AS out_sum,
          CAST(sum(v * (j * ow + i + 1)) AS BIGINT) AS out_wsum
        FROM px GROUP BY doc_id, ow, oh ORDER BY doc_id""",
      "d01_exact_dups" -> """
        SELECT text_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id FROM (
          SELECT doc_id, md5(text) AS text_hash FROM documents) t
        GROUP BY text_hash ORDER BY text_hash""",
      "d02_minhash_sigs" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents)
        SELECT doc_id, i,
          list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS minhash
        FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii
        ORDER BY doc_id, i""",
      "d08_lsh_pairs_capped" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b""",
      // d23: the d18 true-Jaccard recount joined to the d11 recursive
      // labeling, reduced to per-cluster weakest-edge rows.
      "d23_cluster_tightness" -> """
        WITH RECURSIVE
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        tok AS (SELECT doc_id, list_distinct(th) AS tok FROM tk),
        tj AS (SELECT p.doc_a, p.doc_b,
                 CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE) /
                   (len(ta.tok) + len(tb.tok) - len(list_intersect(ta.tok, tb.tok))) AS true_jaccard
               FROM pairs p
               JOIN tok ta ON ta.doc_id = p.doc_a
               JOIN tok tb ON tb.doc_id = p.doc_b),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
        lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node),
        ej AS (SELECT l.cluster_id, t.doc_a, t.doc_b, t.true_jaccard,
                 row_number() OVER (PARTITION BY l.cluster_id
                   ORDER BY t.true_jaccard ASC, t.doc_a, t.doc_b) AS r
               FROM tj t JOIN lab l ON l.doc_id = t.doc_a),
        agg AS (SELECT cluster_id, count(*) AS n_edges, min(true_jaccard) AS min_jaccard,
                  max(CASE WHEN r = 1 THEN doc_a END) AS weak_a,
                  max(CASE WHEN r = 1 THEN doc_b END) AS weak_b
                FROM ej GROUP BY cluster_id),
        mem AS (SELECT cluster_id, count(*) AS n_members FROM lab GROUP BY cluster_id)
        SELECT a.cluster_id, CAST(m.n_members AS BIGINT) AS n_members,
          CAST(a.n_edges AS BIGINT) AS n_edges, a.min_jaccard,
          CAST(a.weak_a AS BIGINT) AS weak_a, CAST(a.weak_b AS BIGINT) AS weak_b
        FROM agg a JOIN mem m ON m.cluster_id = a.cluster_id
        ORDER BY a.cluster_id""",
      // d25: the d15 probe CTEs + the t25 quality expression + the t16
      // gram sets, left-joined onto every arriving doc.
      // d25: the admission CTE chain is the shared
      // Dedup.admissionReplaySql val (c02 composes the same chain).
      "d25_ingest_admission" -> ("""
        WITH """ + graft.ops.Dedup.admissionReplaySql + """
        SELECT q.doc_id,
          (m.exact_match IS NOT NULL) AS exact_dup,
          (m.near_match IS NOT NULL) AS near_dup,
          (m.sim_match IS NOT NULL) AS sim_dup,
          (q.quality < 0.8) AS low_quality,
          (dt.doc_id IS NOT NULL) AS contaminated,
          least(COALESCE(m.exact_match, m.near_match, m.sim_match),
                COALESCE(m.near_match, m.sim_match, m.exact_match),
                COALESCE(m.sim_match, m.exact_match, m.near_match)) AS best_match,
          (m.exact_match IS NULL AND m.near_match IS NULL AND m.sim_match IS NULL
           AND q.quality >= 0.8 AND dt.doc_id IS NULL) AS admit
        FROM q LEFT JOIN merged m ON m.doc_id = q.doc_id
               LEFT JOIN dirty dt ON dt.doc_id = q.doc_id
        ORDER BY q.doc_id"""),
      // d26: the d25 signal CTEs verbatim, with the staged columns
      // derived by PRECEDENCE over the full signal set — legitimate
      // because every signal is per-doc independent of the probed
      // set, so the short-circuit can only skip probes whose outcome
      // cannot matter; the hash match against Spark's genuinely
      // staged plan IS the semantics proof.
      "d26_staged_admission" -> ("""
        WITH """ + graft.ops.Dedup.admissionReplaySql + """,
        staged AS (SELECT q.doc_id, q.quality, m.exact_match, m.near_match,
                     m.sim_match, (dt.doc_id IS NOT NULL) AS is_dirty
                   FROM q LEFT JOIN merged m ON m.doc_id = q.doc_id
                          LEFT JOIN dirty dt ON dt.doc_id = q.doc_id)
        SELECT doc_id,
          CASE WHEN quality < 0.8 THEN 'quality'
               WHEN exact_match IS NOT NULL THEN 'exact'
               WHEN near_match IS NOT NULL THEN 'near'
               WHEN sim_match IS NOT NULL THEN 'sim'
               WHEN is_dirty THEN 'contaminated' END AS reject_stage,
          CASE WHEN quality < 0.8 THEN NULL
               ELSE COALESCE(exact_match, near_match, sim_match) END AS best_match,
          (quality >= 0.8 AND exact_match IS NULL) AS probed_near,
          (quality >= 0.8 AND exact_match IS NULL AND near_match IS NULL) AS probed_sim,
          (quality >= 0.8 AND exact_match IS NULL AND near_match IS NULL
             AND sim_match IS NULL) AS probed_decontam,
          (quality >= 0.8 AND exact_match IS NULL AND near_match IS NULL
             AND sim_match IS NULL AND NOT is_dirty) AS admit
        FROM staged ORDER BY doc_id"""),
      // d28: the d26 cascade CTEs verbatim, then the t33 planted-PII
      // fixture + regex counts for the SURVIVORS only; email/phone > 0
      // rejects at stage 'pii', IPv4 carries as a count.
      "d28_pii_admission" -> ("""
        WITH """ + graft.ops.Dedup.admissionReplaySql + """,
        staged AS (SELECT q.doc_id, q.quality, m.exact_match, m.near_match,
                     m.sim_match, (dt.doc_id IS NOT NULL) AS is_dirty
                   FROM q LEFT JOIN merged m ON m.doc_id = q.doc_id
                          LEFT JOIN dirty dt ON dt.doc_id = q.doc_id),
        adm AS (SELECT doc_id FROM staged
                WHERE quality >= 0.8 AND exact_match IS NULL
                  AND near_match IS NULL AND sim_match IS NULL
                  AND NOT is_dirty),
        fx AS (SELECT d.doc_id,
                 d.text || repeat(' contact user' || CAST(d.doc_id AS VARCHAR)
                                  || '@mail.example.com', CAST(d.doc_id % 3 AS INTEGER))
                        || repeat(' call 555-' || lpad(CAST(d.doc_id % 1000 AS VARCHAR), 3, '0')
                                  || '-' || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0'),
                                  CAST(d.doc_id % 2 AS INTEGER))
                        || ' from ' || CAST(d.doc_id % 223 + 1 AS VARCHAR)
                        || '.' || CAST(d.doc_id % 256 AS VARCHAR)
                        || '.' || CAST((d.doc_id // 7) % 256 AS VARCHAR)
                        || '.' || CAST(d.doc_id % 254 + 1 AS VARCHAR) AS ftext
               FROM documents d JOIN adm ON d.doc_id = adm.doc_id),
        pii AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(ftext,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                  CAST(len(regexp_extract_all(ftext,
                    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
                  CAST(len(regexp_extract_all(ftext,
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4
                FROM fx)
        SELECT s.doc_id,
          CASE WHEN quality < 0.8 THEN 'quality'
               WHEN exact_match IS NOT NULL THEN 'exact'
               WHEN near_match IS NOT NULL THEN 'near'
               WHEN sim_match IS NOT NULL THEN 'sim'
               WHEN is_dirty THEN 'contaminated'
               WHEN p.n_emails + p.n_phones > 0 THEN 'pii' END AS reject_stage,
          p.n_emails, p.n_phones, p.n_ipv4,
          (p.doc_id IS NOT NULL) AS probed_pii,
          (p.doc_id IS NOT NULL AND p.n_emails + p.n_phones = 0) AS admit
        FROM staged s LEFT JOIN pii p ON s.doc_id = p.doc_id
        ORDER BY s.doc_id"""),
      // d32: the contraction replayed as the FULL union graph — two
      // recursive CTEs (historical labeling, union labeling), affected
      // set = matched arrivals ∪ members of probe-touched components;
      // the hash match certifies the component contraction.
      // d33: d04's scored pairs, two recursive reachability walks
      // (τ ≥ 0.3 and τ ≥ 0.95), per-lo-cluster strict-group counts
      // with singletons as their own group.
      "d33_threshold_ablation" -> """
        WITH RECURSIVE
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)) AS s
               FROM tk),
        e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shash FROM sh),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS DOUBLE) / (any_value(a.ns) + any_value(b.ns) - count(*)) AS j
               FROM e a JOIN e b ON a.shash = b.shash AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id
               HAVING CAST(count(*) AS DOUBLE) / (any_value(a.ns) + any_value(b.ns) - count(*)) >= 0.3),
        elo AS (SELECT doc_a AS src, doc_b AS dst FROM pr
                UNION ALL SELECT doc_b, doc_a FROM pr),
        wlo(node, lbl) AS (
          SELECT src, src FROM elo
          UNION
          SELECT x.dst, w.lbl FROM wlo w JOIN elo x ON x.src = w.node),
        lo AS (SELECT node AS doc_id, min(lbl) AS lo_cluster FROM wlo GROUP BY node),
        ehi AS (SELECT doc_a AS src, doc_b AS dst FROM pr WHERE j >= 0.95
                UNION ALL SELECT doc_b, doc_a FROM pr WHERE j >= 0.95),
        whi(node, lbl) AS (
          SELECT src, src FROM ehi
          UNION
          SELECT x.dst, w.lbl FROM whi w JOIN ehi x ON x.src = w.node),
        hi AS (SELECT node AS doc_id, min(lbl) AS hi_cluster FROM whi GROUP BY node)
        SELECT lo_cluster, count(*) AS n_docs,
          count(DISTINCT coalesce(hi_cluster, lo.doc_id)) AS n_hi_groups,
          (count(DISTINCT coalesce(hi_cluster, lo.doc_id)) > 1) AS splits_at_hi
        FROM lo LEFT JOIN hi USING (doc_id)
        GROUP BY lo_cluster ORDER BY lo_cluster""",
      // d34: positional 20-gram polynomial hashes via list_reduce
      // (length-agnostic — a nested literal polynomial trips DuckDB's
      // 128-deep binder recursion cap at this L), cross-doc repeated
      // grams, gaps-and-islands maximal runs, span text sliced back
      // out of the token array.
      "d34_repeated_spans" -> """
        WITH tk AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
                      list_transform(regexp_split_to_array(text, '\s+'),
                        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        grams AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(th) - 19),
                    i -> struct_pack(pos := CAST(i - 1 AS BIGINT),
                      g := list_reduce(th[i:i+19],
                             (acc, x) -> (acc * 31 + x) % 2147483647))),
                    recursive := true)
                  FROM tk WHERE len(th) >= 20),
        pg AS (SELECT g, doc_id FROM grams GROUP BY g, doc_id),
        rep AS (SELECT g FROM pg GROUP BY g HAVING count(*) >= 2),
        hit AS (SELECT grams.doc_id, grams.pos FROM grams JOIN rep USING (g)),
        isl AS (SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM hit),
        spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
                    CAST(max(pos) - min(pos) + 20 AS BIGINT) AS span_tokens
                  FROM isl GROUP BY doc_id, grp)
        SELECT s.doc_id, s.start_pos, s.span_tokens,
          array_to_string(tk.toks[s.start_pos + 1 : s.start_pos + s.span_tokens], ' ')
            AS span_text
        FROM spans s JOIN tk ON s.doc_id = tk.doc_id
        ORDER BY s.doc_id, s.start_pos""",
      // d35: the d34 cut pass — positions covered by a non-canonical
      // repeated-gram window materialize as DISTINCT covered positions
      // (interval union handled relationally), kept tokens re-join in
      // position order; coalesce('') for a fully-cut doc.
      "d35_span_dedup_apply" -> """
        WITH tk AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
                      list_transform(regexp_split_to_array(text, '\s+'),
                        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        grams AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(th) - 19),
                    i -> struct_pack(pos := CAST(i - 1 AS BIGINT),
                      g := list_reduce(th[i:i+19],
                             (acc, x) -> (acc * 31 + x) % 2147483647))),
                    recursive := true)
                  FROM tk WHERE len(th) >= 20),
        pg AS (SELECT g, doc_id FROM grams GROUP BY g, doc_id),
        rep AS (SELECT g, min(doc_id) AS canon_doc FROM pg
                GROUP BY g HAVING count(*) >= 2),
        cut AS (SELECT grams.doc_id, grams.pos FROM grams JOIN rep USING (g)
                WHERE grams.doc_id <> rep.canon_doc),
        isl AS (SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM cut),
        iv AS (SELECT doc_id, min(pos) AS a, max(pos) + 19 AS b
               FROM isl GROUP BY doc_id, grp),
        cov AS (SELECT DISTINCT doc_id, unnest(range(a, b + 1)) AS pos FROM iv),
        tok AS (SELECT doc_id, unnest(toks) AS tok,
                  unnest(range(0, len(toks))) AS pos FROM tk
                WHERE doc_id IN (SELECT DISTINCT doc_id FROM cut))
        SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(count(c.pos) AS BIGINT) AS n_removed,
          coalesce(string_agg(t.tok, ' ' ORDER BY t.pos)
            FILTER (WHERE c.pos IS NULL), '') AS text_clean
        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
        GROUP BY t.doc_id ORDER BY t.doc_id""",
      // d36: the d34 islands over arrival docs probing the DISTINCT
      // historical gram set only.
      "d36_incremental_spans" -> """
        WITH tk AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks,
                      list_transform(regexp_split_to_array(text, '\s+'),
                        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        grams AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(th) - 19),
                    i -> struct_pack(pos := CAST(i - 1 AS BIGINT),
                      g := list_reduce(th[i:i+19],
                             (acc, x) -> (acc * 31 + x) % 2147483647))),
                    recursive := true)
                  FROM tk WHERE len(th) >= 20),
        hist AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 <> 0),
        hit AS (SELECT grams.doc_id, grams.pos FROM grams JOIN hist USING (g)
                WHERE grams.doc_id % 5 = 0),
        isl AS (SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM hit),
        spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
                    CAST(max(pos) - min(pos) + 20 AS BIGINT) AS span_tokens
                  FROM isl GROUP BY doc_id, grp)
        SELECT s.doc_id, s.start_pos, s.span_tokens,
          array_to_string(tk.toks[s.start_pos + 1 : s.start_pos + s.span_tokens], ' ')
            AS span_text
        FROM spans s JOIN tk ON s.doc_id = tk.doc_id
        ORDER BY s.doc_id, s.start_pos""",
      // d37: the d27 decision chain -> drop set -> one pre/post token
      // aggregate -> the t22 segmented KL fold (list_reduce's
      // first-element seed == Spark's 0D seed because 0.0 + x = x).
      // d38: counts replay exactly; the two filter-property booleans
      // are pinned verdicts (no-false-negative is structural, the fp
      // budget is the 3x-expectation gate).
      "d38_bloom_prescreen" -> """
        WITH b AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0),
        hh AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0)
        SELECT count(*) AS n_batch,
          CAST(sum(CASE WHEN hh.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
          TRUE AS no_false_negatives,
          TRUE AS fp_rate_ok
        FROM b LEFT JOIN hh ON b.h = hh.h""",
      "d37_curation_shift" -> ("""
        WITH RECURSIVE
        """ + graft.ops.Dedup.ccLabelReplaySql + """,
        q AS (SELECT doc_id,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality
              FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
                    FROM documents) x),
        verd AS (SELECT lab.doc_id,
                   lab.doc_id = first_value(lab.doc_id) OVER (
                     PARTITION BY lab.cluster_id
                     ORDER BY q.quality DESC, lab.doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                     AS kept
                 FROM lab JOIN q ON lab.doc_id = q.doc_id),
        dropped AS (SELECT doc_id FROM verd WHERE NOT kept),
        tok AS (SELECT d.source, (dr.doc_id IS NOT NULL) AS is_dropped,
                  unnest(regexp_split_to_array(d.text, '\s+')) AS term
                FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id),
        st AS (SELECT source, term, count(*) AS c_pre,
                 CAST(sum(CASE WHEN is_dropped THEN 0 ELSE 1 END) AS BIGINT) AS c_post
               FROM tok GROUP BY 1, 2),
        ns AS (SELECT source, CAST(sum(c_pre) AS BIGINT) AS n_pre,
                 CAST(sum(c_post) AS BIGINT) AS n_post
               FROM st GROUP BY source),
        c AS (SELECT st.source, st.term, st.c_post,
                CAST(('0x' || substr(md5(st.term), 1, 2)) AS BIGINT) AS seg,
                (CAST(st.c_post AS DOUBLE) / CAST(ns.n_post AS DOUBLE)) *
                  ln((CAST(st.c_post AS DOUBLE) * CAST(ns.n_pre AS DOUBLE)) /
                     (CAST(ns.n_post AS DOUBLE) * CAST(st.c_pre AS DOUBLE))) AS contrib
              FROM st JOIN ns ON st.source = ns.source WHERE st.c_post > 0),
        segs AS (SELECT source, seg, count(*) AS n_terms_seg,
                   CAST(sum(c_post) AS BIGINT) AS n_tok_seg,
                   list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS f_seg
                 FROM c GROUP BY source, seg)
        SELECT source, CAST(sum(n_terms_seg) AS BIGINT) AS n_terms_post,
          CAST(sum(n_tok_seg) AS BIGINT) AS n_tokens_post,
          list_reduce(list(f_seg ORDER BY seg), (a, b) -> a + b) AS kl_shift
        FROM segs GROUP BY source ORDER BY source"""),
      "d32_incremental_clusters" -> """
        WITH RECURSIVE
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        hb AS (SELECT j, bkey, doc_id FROM bands WHERE doc_id % 5 <> 0),
        hn AS (SELECT j, bkey, count(*) AS n FROM hb GROUP BY j, bkey),
        hsmall AS (SELECT j, bkey FROM hn WHERE n <= 64 AND n > 1),
        hinb AS (SELECT hb.* FROM hb JOIN hsmall s ON hb.j = s.j AND hb.bkey = s.bkey),
        hpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM hinb a JOIN hinb b
                     ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        psmall AS (SELECT j, bkey FROM hn WHERE n <= 64),
        probe AS (SELECT DISTINCT nb.doc_id AS new_doc, hb.doc_id AS hist_doc
                  FROM bands nb JOIN hb ON nb.j = hb.j AND nb.bkey = hb.bkey
                  JOIN psmall p ON hb.j = p.j AND hb.bkey = p.bkey
                  WHERE nb.doc_id % 5 = 0),
        hedges AS (SELECT doc_a AS src, doc_b AS dst FROM hpairs
                   UNION ALL SELECT doc_b, doc_a FROM hpairs),
        hwalk(node, lbl) AS (
          SELECT src, src FROM hedges
          UNION
          SELECT e.dst, w.lbl FROM hwalk w JOIN hedges e ON e.src = w.node),
        hlbl AS (SELECT node AS doc_id, min(lbl) AS lbl FROM hwalk GROUP BY node),
        uedges AS (SELECT src, dst FROM hedges
                   UNION ALL SELECT new_doc, hist_doc FROM probe
                   UNION ALL SELECT hist_doc, new_doc FROM probe),
        uwalk(node, lbl) AS (
          SELECT src, src FROM uedges
          UNION
          SELECT e.dst, w.lbl FROM uwalk w JOIN uedges e ON e.src = w.node),
        ulbl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
                 FROM uwalk GROUP BY node),
        touched AS (SELECT DISTINCT COALESCE(h.lbl, p.hist_doc) AS tl
                    FROM probe p LEFT JOIN hlbl h ON h.doc_id = p.hist_doc),
        hd AS (SELECT DISTINCT doc_id FROM hb),
        hist_rows AS (
          SELECT d.doc_id, COALESCE(h.lbl, d.doc_id) AS prev_cluster, u.cluster_id
          FROM hd d
          LEFT JOIN hlbl h ON h.doc_id = d.doc_id
          JOIN touched t ON COALESCE(h.lbl, d.doc_id) = t.tl
          JOIN ulbl u ON u.doc_id = d.doc_id),
        new_rows AS (
          SELECT nd.new_doc AS doc_id, CAST(NULL AS BIGINT) AS prev_cluster,
            u.cluster_id
          FROM (SELECT DISTINCT new_doc FROM probe) nd
          JOIN ulbl u ON u.doc_id = nd.new_doc)
        SELECT doc_id, prev_cluster, cluster_id,
          (prev_cluster IS NULL OR prev_cluster <> cluster_id) AS changed
        FROM (SELECT * FROM hist_rows UNION ALL SELECT * FROM new_rows) z
        ORDER BY doc_id""",
      // d30: the d27 decision CTEs rolled up per source in tokens;
      // unimplicated docs have NULL kept, which the CASE treats as
      // kept (null <> false), matching the Spark left join.
      // d31: the d27/d30 decision CTE, kept rows only — recomputed
      // from the ORIGINAL documents table while the Spark side reads
      // the written artifact; a hash match certifies the shipped bytes.
      // c01: the full campaign replay — see Curation.campaignOracle's
      // scaladoc for the CTE chain.
      "c01_curation_campaign" -> graft.ops.Curation.campaignOracle,
      // c02: the composed door-time replay — the shared admission,
      // JM, and DSIR chains under the same first-failing-gate CASE.
      "c02_ingest_campaign" -> graft.ops.Curation.ingestOracle,
      "d31_curated_readback" -> ("""
        WITH RECURSIVE
        """ + graft.ops.Dedup.ccLabelReplaySql + """,
        q AS (SELECT doc_id,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality
              FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
                    FROM documents) x),
        j AS (SELECT lab.doc_id, lab.cluster_id, q.quality
              FROM lab JOIN q ON lab.doc_id = q.doc_id),
        dec AS (SELECT doc_id,
                  doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
                    ORDER BY quality DESC, doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                    AS kept
                FROM j),
        tokc AS (SELECT source, doc_id,
                   CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
                 FROM documents)
        SELECT t.source, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
        FROM tokc t LEFT JOIN dec d ON t.doc_id = d.doc_id
        WHERE COALESCE(d.kept, true)
        GROUP BY t.source ORDER BY t.source"""),
      "d43_cap_ablation" -> graft.ops.Dedup.capAblationOracle,
      "d44_dup_pagerank" -> graft.ops.Dedup.pagerankOracle(10),
      // d45: the shared pair prefix, then 6 chained integer
      // count->max->min LP rounds — exact in any engine.
      "d45_dup_communities" -> graft.ops.Dedup.labelPropOracle(6),
      // d46: the shared pair prefix, then two integer stat arms — the
      // pair drop counts and the per-doc released/after partition.
      "d46_takedown_audit" -> ("WITH\n" + graft.ops.Dedup.pairsReplaySql + """,
        fl AS (SELECT (doc_a % 7 = 2) OR (doc_b % 7 = 2) AS dropped
               FROM pairs),
        pa AS (SELECT count(*) AS n_pairs,
                 CAST(sum(CAST(dropped AS INTEGER)) AS BIGINT) AS n_pairs_dropped
               FROM fl),
        half AS (SELECT doc_a AS doc, doc_b AS partner FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
        pd AS (SELECT doc, (doc % 7 = 2) AS doc_dead,
                 min(CAST((partner % 7 = 2) AS INTEGER)) AS all_dead
               FROM half GROUP BY 1, 2),
        da AS (SELECT count(*) AS n_dup_docs_before,
                 CAST(sum(CAST(doc_dead AS INTEGER)) AS BIGINT) AS n_dead_docs,
                 CAST(sum(CAST((NOT doc_dead) AND all_dead = 1 AS INTEGER)) AS BIGINT)
                   AS n_released,
                 CAST(sum(CAST((NOT doc_dead) AND all_dead = 0 AS INTEGER)) AS BIGINT)
                   AS n_dup_docs_after
               FROM pd)
        SELECT pa.n_pairs, pa.n_pairs_dropped,
          pa.n_pairs - pa.n_pairs_dropped AS n_pairs_kept,
          da.n_dup_docs_before, da.n_dead_docs, da.n_released,
          da.n_dup_docs_after
        FROM pa CROSS JOIN da"""),
      // d42: the d30 label-replay prefix (MinHash -> capped LSH ->
      // recursive CC), then the cluster x source rollup; arg_min picks
      // the representative's source exactly like min_by over the
      // unique doc_id.
      "d42_syndication" -> ("""
        WITH RECURSIVE
        """ + graft.ops.Dedup.ccLabelReplaySql + """
        SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_members,
          CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
          arg_min(d.source, l.doc_id) AS kept_source,
          count(DISTINCT d.source) >= 2 AS cross_source
        FROM lab l JOIN documents d ON d.doc_id = l.doc_id
        GROUP BY l.cluster_id HAVING count(*) >= 2
        ORDER BY l.cluster_id"""),
      "d30_savings_by_source" -> ("""
        WITH RECURSIVE
        """ + graft.ops.Dedup.ccLabelReplaySql + """,
        q AS (SELECT doc_id,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality
              FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
                    FROM documents) x),
        j AS (SELECT lab.doc_id, lab.cluster_id, q.quality
              FROM lab JOIN q ON lab.doc_id = q.doc_id),
        dec AS (SELECT doc_id,
                  doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
                    ORDER BY quality DESC, doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                    AS kept
                FROM j),
        tokc AS (SELECT source, doc_id,
                   CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
                 FROM documents)
        SELECT t.source, count(*) AS n_docs,
          CAST(sum(CASE WHEN d.kept = false THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
          CAST(sum(CASE WHEN d.kept = false THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_dropped,
          CAST(sum(CASE WHEN d.kept = false THEN 0 ELSE n_tokens END) AS BIGINT) AS tokens_kept
        FROM tokc t LEFT JOIN dec d ON t.doc_id = d.doc_id
        GROUP BY t.source ORDER BY t.source"""),
      // d27: d11's cluster walk joined with the t02 quality expression
      // (evaluated in the t02 order, bit-reproducible), canonical =
      // first_value over (quality DESC, doc_id ASC) per cluster.
      "d27_canonical_keep" -> ("""
        WITH RECURSIVE
        """ + graft.ops.Dedup.ccLabelReplaySql + """,
        q AS (SELECT doc_id,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality
              FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
                    FROM documents) x),
        j AS (SELECT lab.doc_id, lab.cluster_id, q.quality
              FROM lab JOIN q ON lab.doc_id = q.doc_id)
        SELECT doc_id, cluster_id,
          first_value(doc_id) OVER (PARTITION BY cluster_id
            ORDER BY quality DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS canonical_id,
          doc_id = first_value(doc_id) OVER (PARTITION BY cluster_id
            ORDER BY quality DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS kept,
          quality
        FROM j ORDER BY doc_id"""),
      // d24: the d11 text-cluster walk + the m12 image-cluster walk
      // (aHash recomputed from the generator formula), joined per doc
      // with singleton defaults, then the two cross-modal
      // distinct-count disagreement flags.
      "d24_crossmodal" -> """
        WITH RECURSIVE
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey),
        tpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        tedges AS (SELECT doc_a AS src, doc_b AS dst FROM tpairs
                   UNION ALL SELECT doc_b, doc_a FROM tpairs),
        twalk(node, lbl) AS (
          SELECT src, src FROM tedges
          UNION
          SELECT e.dst, w.lbl FROM twalk w JOIN tedges e ON e.src = w.node),
        tlab AS (SELECT node AS doc_id, min(lbl) AS text_cluster
                 FROM twalk GROUP BY node),
        d AS (SELECT doc_id, 8 + doc_id % 25 AS w, 8 + (doc_id // 25) % 25 AS h
              FROM documents),
        t AS (SELECT doc_id, w, h,
                CAST(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
                  list_transform(generate_series(0, w - 1), x ->
                    (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS total
              FROM d),
        cells AS (SELECT doc_id, w, h, total, i, j,
                    (i * w) // 8 AS x0, ((i + 1) * w) // 8 AS x1,
                    (j * h) // 8 AS y0, ((j + 1) * h) // 8 AS y1
                  FROM t,
                    (SELECT unnest(generate_series(0, 7)) AS i) ii,
                    (SELECT unnest(generate_series(0, 7)) AS j) jj),
        cs AS (SELECT doc_id, w, h, total, i, j,
                 (x1 - x0) * (y1 - y0) AS np,
                 CAST(list_sum(flatten(list_transform(generate_series(y0, y1 - 1), y ->
                   list_transform(generate_series(x0, x1 - 1), x ->
                     (doc_id * 31 + 7 * x + 13 * y) % 256)))) AS BIGINT) AS csum
               FROM cells),
        bits AS (SELECT doc_id, 8 * j + i AS b,
                   CASE WHEN csum * w * h > total * np THEN 1 ELSE 0 END AS bit
                 FROM cs),
        hx AS (SELECT doc_id,
                 CAST(sum(CASE WHEN b >= 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(sum(CASE WHEN b < 32 AND bit = 1
                               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo
               FROM bits GROUP BY doc_id),
        bd AS (SELECT doc_id, hi, lo, bb.band,
                 CASE bb.band WHEN 0 THEN lo & 65535
                              WHEN 1 THEN (lo >> 16) & 65535
                              WHEN 2 THEN hi & 65535
                              ELSE (hi >> 16) & 65535 END AS bval
               FROM hx, (SELECT unnest(generate_series(0, 3)) AS band) bb),
        ipairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bd a JOIN bd b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2),
        iedges AS (SELECT doc_a AS src, doc_b AS dst FROM ipairs
                   UNION ALL SELECT doc_b, doc_a FROM ipairs),
        iwalk(node, lbl) AS (
          SELECT src, src FROM iedges
          UNION
          SELECT e.dst, w.lbl FROM iwalk w JOIN iedges e ON e.src = w.node),
        ilab AS (SELECT node AS doc_id, min(lbl) AS image_cluster
                 FROM iwalk GROUP BY node),
        allids AS (SELECT DISTINCT doc_id FROM
                     (SELECT doc_id FROM tlab
                      UNION ALL SELECT doc_id FROM ilab) u),
        jn AS (SELECT a.doc_id,
                 COALESCE(tl.text_cluster, a.doc_id) AS text_cluster,
                 COALESCE(il.image_cluster, a.doc_id) AS image_cluster
               FROM allids a LEFT JOIN tlab tl ON tl.doc_id = a.doc_id
                             LEFT JOIN ilab il ON il.doc_id = a.doc_id),
        tc AS (SELECT text_cluster, count(DISTINCT image_cluster) AS n_img
               FROM jn GROUP BY 1),
        ic AS (SELECT image_cluster, count(DISTINCT text_cluster) AS n_txt
               FROM jn GROUP BY 1)
        SELECT jn.doc_id, jn.text_cluster, jn.image_cluster,
          tc.n_img > 1 AS img_split, ic.n_txt > 1 AS text_split
        FROM jn JOIN tc ON tc.text_cluster = jn.text_cluster
                JOIN ic ON ic.image_cluster = jn.image_cluster
        ORDER BY jn.doc_id""",
      // d39: the d18 CTEs with the low-bit agreement beside the full
      // one; sig values are nonnegative so m % 2 IS the low bit.
      // d41: the d27 chain and the d40 chain composed verbatim (the
      // d24 two-recursive-walk precedent), full-outer on doc_id.
      "d41_signal_agreement" -> ("""
        WITH RECURSIVE
        """ + graft.ops.Dedup.ccLabelReplaySql + """,
        q AS (SELECT doc_id,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality
              FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
                    FROM documents) x),
        lex AS (SELECT j2.doc_id,
                  CASE WHEN j2.doc_id = first_value(j2.doc_id) OVER (
                    PARTITION BY j2.cluster_id ORDER BY j2.quality DESC, j2.doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                  THEN 'keep' ELSE 'drop' END AS lex
                FROM (SELECT lab.doc_id, lab.cluster_id, q.quality
                      FROM lab JOIN q ON lab.doc_id = q.doc_id) j2),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id, ccos AS cos_c FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) AS ccos,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        epairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                   FROM assigned a JOIN assigned b
                     ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
                   WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
        eedges AS (SELECT doc_a AS src, doc_b AS dst FROM epairs
                   UNION ALL SELECT doc_b, doc_a FROM epairs),
        ewalk(node, lbl) AS (
          SELECT src, src FROM eedges
          UNION
          SELECT e2.dst, w.lbl FROM ewalk w JOIN eedges e2 ON e2.src = w.node),
        elab AS (SELECT node AS vec_id, min(lbl) AS cluster_id
                 FROM ewalk GROUP BY node),
        sem AS (SELECT a.vec_id AS doc_id,
                  CASE WHEN row_number() OVER (PARTITION BY elab.cluster_id
                         ORDER BY a.cos_c ASC, a.vec_id) = 1
                  THEN 'keep' ELSE 'drop' END AS sem
                FROM assigned a JOIN elab ON elab.vec_id = a.vec_id)
        SELECT COALESCE(lex.lex, 'uninvolved') AS lex,
          COALESCE(sem.sem, 'uninvolved') AS sem,
          count(*) AS n_docs,
          min(COALESCE(lex.doc_id, sem.doc_id)) AS first_doc
        FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
        GROUP BY 1, 2 ORDER BY lex, sem"""),
      // d40: the s04 assignment CTE, within-cell pairs, d11's CC walk,
      // keep = row 1 by (cos_c ASC, vec_id) per duplicate group.
      "d40_semdedup" -> """
        WITH RECURSIVE
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
              FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id, ccos AS cos_c FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) AS ccos,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                  FROM assigned a JOIN assigned b
                    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
                  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e2.dst, w.lbl FROM walk w JOIN edges e2 ON e2.src = w.node),
        lab AS (SELECT node AS vec_id, min(lbl) AS cluster_id
                FROM walk GROUP BY node)
        SELECT a.vec_id, a.cell_id, lab.cluster_id, a.cos_c,
          row_number() OVER (PARTITION BY lab.cluster_id
            ORDER BY a.cos_c ASC, a.vec_id) = 1 AS keep
        FROM assigned a JOIN lab ON lab.vec_id = a.vec_id
        ORDER BY a.vec_id""",
      "d39_bbit_minwise" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        tok AS (SELECT doc_id, list_distinct(th) AS tok FROM tk)
        SELECT p.doc_a, p.doc_b,
          CAST(len(list_filter(generate_series(1, 12),
            i -> sa.sig[i] % 2 = sb.sig[i] % 2)) AS BIGINT) AS agree_bits,
          CAST(len(list_filter(generate_series(1, 12),
            i -> sa.sig[i] % 2 = sb.sig[i] % 2)) * 2 - 12 AS DOUBLE) / 12 AS est_b1,
          CAST(len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 12
            AS est_full,
          CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE) /
            (len(ta.tok) + len(tb.tok) - len(list_intersect(ta.tok, tb.tok))) AS true_jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
        JOIN tok ta ON ta.doc_id = p.doc_a
        JOIN tok tb ON tb.doc_id = p.doc_b
        ORDER BY doc_a, doc_b""",
      "d18_mh_accuracy" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        tok AS (SELECT doc_id, list_distinct(th) AS tok FROM tk)
        SELECT p.doc_a, p.doc_b,
          CAST(len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 12
            AS est_jaccard,
          CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE) /
            (len(ta.tok) + len(tb.tok) - len(list_intersect(ta.tok, tb.tok))) AS true_jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b
        JOIN tok ta ON ta.doc_id = p.doc_a
        JOIN tok tb ON tb.doc_id = p.doc_b
        ORDER BY doc_a, doc_b""",
      // d29: the d18 pair CTEs + a 9-point tau grid; the S-curve is
      // explicit products (pow is not correctly-rounded in either
      // engine), written with the same association as the Spark expr.
      "d29_lsh_calibration" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        tok AS (SELECT doc_id, list_distinct(th) AS tok FROM tk),
        pj AS (SELECT p.doc_a, p.doc_b,
                 CAST(len(list_filter(generate_series(1, 12), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 12
                   AS est_jaccard,
                 CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE) /
                   (len(ta.tok) + len(tb.tok) - len(list_intersect(ta.tok, tb.tok))) AS true_jaccard
               FROM pairs p
               JOIN sig sa ON sa.doc_id = p.doc_a
               JOIN sig sb ON sb.doc_id = p.doc_b
               JOIN tok ta ON ta.doc_id = p.doc_a
               JOIN tok tb ON tb.doc_id = p.doc_b),
        grid AS (SELECT CAST(i AS DOUBLE) / 10.0 AS tau
                 FROM (SELECT unnest(generate_series(1, 9)) AS i) g)
        SELECT tau, count(*) AS n_candidates,
          CAST(sum(CASE WHEN est_jaccard >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_est_ge,
          CAST(sum(CASE WHEN true_jaccard >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_true_ge,
          CAST(sum(CASE WHEN est_jaccard >= tau AND true_jaccard >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_both_ge,
          CASE WHEN sum(CASE WHEN est_jaccard >= tau THEN 1 ELSE 0 END) > 0
               THEN CAST(CAST(sum(CASE WHEN est_jaccard >= tau AND true_jaccard >= tau THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                    / CAST(CAST(sum(CASE WHEN est_jaccard >= tau THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) END AS precision,
          1.0 - ((1.0 - tau*tau*tau) * (1.0 - tau*tau*tau)) *
                ((1.0 - tau*tau*tau) * (1.0 - tau*tau*tau)) AS collision_prob
        FROM pj CROSS JOIN grid
        GROUP BY tau ORDER BY tau""",
      "d04_shingle_jaccard" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)) AS s
               FROM tk),
        e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shash FROM sh)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(count(*) AS DOUBLE) / (any_value(a.ns) + any_value(b.ns) - count(*)) AS jaccard
        FROM e a JOIN e b ON a.shash = b.shash AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(count(*) AS DOUBLE) / (any_value(a.ns) + any_value(b.ns) - count(*)) >= 0.3
        ORDER BY doc_a, doc_b""",
      "d12_shingle_capped" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)) AS s
               FROM tk),
        e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shash FROM sh),
        rare AS (SELECT shash FROM e GROUP BY shash
                 HAVING count(*) <= 256 AND count(*) > 1),
        k AS (SELECT e.* FROM e JOIN rare r ON e.shash = r.shash)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(count(*) AS DOUBLE) / (any_value(a.ns) + any_value(b.ns) - count(*)) AS jaccard
        FROM k a JOIN k b ON a.shash = b.shash AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING CAST(count(*) AS DOUBLE) / (any_value(a.ns) + any_value(b.ns) - count(*)) >= 0.3
        ORDER BY doc_a, doc_b""",
      "d17_containment" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)) AS s
               FROM tk),
        e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shash FROM sh),
        rare AS (SELECT shash FROM e GROUP BY shash
                 HAVING count(*) <= 256 AND count(*) > 1),
        k AS (SELECT e.* FROM e JOIN rare r ON e.shash = r.shash)
        SELECT doc_a, doc_b, containment, jaccard FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(count(*) AS DOUBLE) / least(any_value(a.ns), any_value(b.ns)) AS containment,
            CAST(count(*) AS DOUBLE) / (any_value(a.ns) + any_value(b.ns) - count(*)) AS jaccard
          FROM k a JOIN k b ON a.shash = b.shash AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id) t
        WHERE containment >= 0.2 ORDER BY doc_a, doc_b""",
      "d05_simhash" -> """
        WITH tc AS (SELECT doc_id, tok, count(*) AS cnt FROM (
                      SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                      FROM documents) x GROUP BY doc_id, tok),
        h AS (SELECT doc_id, cnt, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tc),
        b AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS w
              FROM h, (SELECT unnest(generate_series(0, 59)) AS i) ii GROUP BY doc_id, i)
        SELECT doc_id, CAST(sum(CASE WHEN w >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
        FROM b GROUP BY doc_id ORDER BY doc_id""",
      "d09_simhash_banded" -> """
        WITH tc AS (SELECT doc_id, tok, count(*) AS cnt FROM (
                      SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                      FROM documents) x GROUP BY doc_id, tok),
        h AS (SELECT doc_id, cnt, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tc),
        b AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS w
              FROM h, (SELECT unnest(generate_series(0, 59)) AS i) ii GROUP BY doc_id, i),
        sh AS (SELECT doc_id, CAST(sum(CASE WHEN w >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
               FROM b GROUP BY doc_id),
        bands AS (SELECT doc_id, simhash, j, (simhash >> (15 * j)) & 32767 AS bv
                  FROM sh, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.simhash AS sim_a, b.simhash AS sim_b
                 FROM bands a JOIN bands b
                   ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 8
        ORDER BY doc_a, doc_b""",
      "d10_embedding_bucketed" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
                     (CASE WHEN embedding[1] > 0.0 THEN 1 ELSE 0 END) +
                     (CASE WHEN embedding[2] > 0.0 THEN 2 ELSE 0 END) +
                     (CASE WHEN embedding[3] > 0.0 THEN 4 ELSE 0 END) +
                     (CASE WHEN embedding[4] > 0.0 THEN 8 ELSE 0 END) AS bucket
                   FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        ORDER BY id_a, id_b""",
      "d11_dup_clusters" -> """
        WITH RECURSIVE
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node)
        SELECT node AS doc_id, min(lbl) AS cluster_id
        FROM walk GROUP BY node ORDER BY doc_id""",
      "d19_dedup_report" -> """
        WITH RECURSIVE
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
        clusters AS (SELECT node AS doc_id, min(lbl) AS cluster_id
                     FROM walk GROUP BY node)
        SELECT c.cluster_id, count(*) AS n_members,
          count(*) - 1 AS n_dropped,
          CAST(sum(CASE WHEN c.doc_id <> c.cluster_id THEN d.n_chars ELSE 0 END) AS BIGINT)
            AS chars_dropped
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
        GROUP BY c.cluster_id ORDER BY c.cluster_id""",
      "d20_chunk_dedup" -> """
        WITH s AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS wl FROM documents),
        chunks AS (
          SELECT doc_id, unnest([array_to_string(wl[(i-1)*10+1:i*10], ' ')
                                 FOR i IN generate_series(1, len(wl)//10)]) AS chunk
          FROM s),
        per_doc AS (
          SELECT md5(chunk) AS chunk_hash, doc_id, count(*) AS n_occ, min(chunk) AS chunk
          FROM chunks GROUP BY 1, 2)
        SELECT chunk_hash, min(chunk) AS chunk, count(*) AS n_docs,
          CAST(sum(n_occ) AS BIGINT) AS n_occ, min(doc_id) AS min_doc_id
        FROM per_doc GROUP BY chunk_hash HAVING count(*) >= 2 ORDER BY chunk_hash""",
      "d21_semantic_clusters" -> """
        WITH RECURSIVE
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
                (CASE WHEN embedding[1] > 0.0 THEN 1 ELSE 0 END) +
                (CASE WHEN embedding[2] > 0.0 THEN 2 ELSE 0 END) +
                (CASE WHEN embedding[3] > 0.0 THEN 4 ELSE 0 END) +
                (CASE WHEN embedding[4] > 0.0 THEN 8 ELSE 0 END) AS bucket
              FROM embeddings),
        pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
                  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT g.dst, w.lbl FROM walk w JOIN edges g ON g.src = w.node)
        SELECT node AS vec_id, min(lbl) AS cluster_id
        FROM walk GROUP BY node ORDER BY vec_id""",
      "d22_chunk_cdc" -> """
        WITH s AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS wl FROM documents),
        tok AS (SELECT doc_id, i AS pos, wl[i] AS word,
                  CASE WHEN CAST(('0x' || substr(md5(wl[i]), 1, 8)) AS BIGINT) % 8 = 0
                       THEN 1 ELSE 0 END AS b
                FROM s, LATERAL unnest(generate_series(1, len(wl))) AS t(i)),
        c AS (SELECT doc_id, pos, word,
                sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS chunk_no
              FROM tok),
        chunks AS (SELECT doc_id, chunk_no,
                     string_agg(word, ' ' ORDER BY pos) AS chunk
                   FROM c GROUP BY 1, 2 HAVING count(*) >= 5),
        per_doc AS (
          SELECT md5(chunk) AS chunk_hash, doc_id, count(*) AS n_occ, min(chunk) AS chunk
          FROM chunks GROUP BY 1, 2)
        SELECT chunk_hash, min(chunk) AS chunk, count(*) AS n_docs,
          CAST(sum(n_occ) AS BIGINT) AS n_occ, min(doc_id) AS min_doc_id
        FROM per_doc GROUP BY chunk_hash HAVING count(*) >= 2 ORDER BY chunk_hash""",
      "q21_order_gaps" -> """
        SELECT o_custkey, o_orderkey,
          CAST(date_diff('day', prev_date, o_orderdate) AS BIGINT) AS gap_days
        FROM (
          SELECT o_custkey, o_orderkey, o_orderdate,
            lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey) AS prev_date
          FROM orders WHERE o_custkey <= 20) t
        ORDER BY o_custkey, o_orderkey""",
      "q22_late_orders" -> """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      "q23_approx_percentiles" -> """
        SELECT l_returnflag,
          quantile_cont(l_quantity, 0.5) AS exact_med_qty,
          quantile_cont(l_extendedprice, 0.9) AS exact_p90_price,
          TRUE AS qty_within_tol, TRUE AS price_within_tol
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      // q24: per-column profile rows — the oracle recomputes each
      // column's stats straight from the table and UNION ALLs them;
      // numerics as double (int64/epoch-µs < 2^53, casts exact).
      "q24_column_profile" -> """
        SELECT * FROM (
          SELECT 'l_orderkey' AS col_name, count(*) AS n_rows,
            count(*) - count(l_orderkey) AS n_nulls,
            count(DISTINCT l_orderkey) AS n_distinct,
            CAST(min(l_orderkey) AS DOUBLE) AS min_num,
            CAST(max(l_orderkey) AS DOUBLE) AS max_num,
            CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
          FROM lineitem
          UNION ALL
          SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
            count(DISTINCT l_quantity),
            min(l_quantity), max(l_quantity), NULL, NULL
          FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
            count(DISTINCT l_extendedprice),
            min(l_extendedprice), max(l_extendedprice), NULL, NULL
          FROM lineitem
          UNION ALL
          SELECT 'l_discount', count(*), count(*) - count(l_discount),
            count(DISTINCT l_discount),
            min(l_discount), max(l_discount), NULL, NULL
          FROM lineitem
          UNION ALL
          SELECT 'l_shipdate_us', count(*), count(*) - count(l_shipdate),
            count(DISTINCT l_shipdate),
            CAST(min(epoch_us(l_shipdate)) AS DOUBLE),
            CAST(max(epoch_us(l_shipdate)) AS DOUBLE), NULL, NULL
          FROM lineitem
          UNION ALL
          SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
            count(DISTINCT l_returnflag),
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            min(l_returnflag), max(l_returnflag)
          FROM lineitem
          UNION ALL
          SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
            count(DISTINCT l_linestatus),
            CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            min(l_linestatus), max(l_linestatus)
          FROM lineitem) p
        ORDER BY col_name""",
      // q26: the same daily DECIMAL pre-aggregate with DuckDB's RANGE
      // frame over the epoch-day key; sums cast to double via VARCHAR
      // (DuckDB's direct decimal→double is not correctly rounded).
      "q26_rolling_revenue" -> """
        WITH daily AS (
          SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
            sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
          FROM orders GROUP BY 1),
        d AS (SELECT day, rev,
                CAST(day - DATE '1970-01-01' AS BIGINT) AS day_n
              FROM daily)
        SELECT day,
          CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
          CAST(CAST(sum(rev) OVER (ORDER BY day_n
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
            AS rev7,
          CAST(count(*) OVER (ORDER BY day_n
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7_days
        FROM d ORDER BY day""",
      // q27: decimal-exact quantity sums; the kept qty casts to
      // double via VARCHAR (the q26 decimal→double convention).
      "q27_big_spenders" -> """
        WITH big AS (
          SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty_dec
          FROM lineitem GROUP BY 1
          HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 150)
        SELECT c_custkey, c_name, o_orderkey, o_totalprice,
          CAST(CAST(qty_dec AS VARCHAR) AS DOUBLE) AS total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
      // q31: decimal cumsum with the exact crossing predicate; shares
      // cast to double via the VARCHAR bridge.
      "q31_pareto" -> """
        WITH spend AS (
          SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_dec
          FROM orders GROUP BY 1),
        t AS (
          SELECT spend_dec,
            row_number() OVER (ORDER BY spend_dec DESC, o_custkey) AS rk,
            sum(spend_dec) OVER (ORDER BY spend_dec DESC, o_custkey
                                 ROWS UNBOUNDED PRECEDING) AS cum_dec,
            sum(spend_dec) OVER () AS total_dec,
            count(*) OVER () AS n_custs
          FROM spend)
        SELECT CAST(rk AS BIGINT) AS head_customers,
          CAST(n_custs AS BIGINT) AS n_custs,
          CAST(rk AS DOUBLE) / CAST(n_custs AS DOUBLE) AS head_frac,
          CAST(CAST(cum_dec AS VARCHAR) AS DOUBLE)
            / CAST(CAST(total_dec AS VARCHAR) AS DOUBLE) AS head_rev_share
        FROM t WHERE cum_dec * 100 >= total_dec * 80
        ORDER BY rk LIMIT 1""",
      // q32: the Q21 rewrite — per-(order, supplier) lateness, an
      // order rollup, blame = late AND n_supps >= 2 AND n_late = 1.
      "q32_blame_suppliers" -> """
        WITH lo AS (
          SELECT l_orderkey, l_suppkey,
            (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'),
        ps AS (SELECT l_orderkey, l_suppkey,
                 max(CASE WHEN late THEN 1 ELSE 0 END) AS supp_late
               FROM lo GROUP BY 1, 2),
        po AS (SELECT l_orderkey, count(*) AS n_supps,
                 CAST(sum(supp_late) AS BIGINT) AS n_late
               FROM ps GROUP BY 1)
        SELECT s_suppkey, s_name, count(*) AS numwait
        FROM ps JOIN po USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE supp_late = 1 AND n_supps >= 2 AND n_late = 1
        GROUP BY s_suppkey, s_name
        ORDER BY numwait DESC, s_name, s_suppkey LIMIT 20""",
      // q33: Q7 shape — both nation joins and the cross-border filter
      // are integer-key algebra; revenue folds in exact decimal.
      "q33_nation_trade" -> s"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l_shipdate) AS BIGINT) AS ship_year,
          count(*) AS n_items,
          CAST(CAST(sum($disc) AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN supplier ON l_suppkey  = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE s_nationkey <> c_nationkey
        GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, ship_year""",
      // q34: Q9 shape — cost rides narrow decimals so the triple
      // product never hits the precision-38 scale clip.
      "q34_profit_by_nation" -> s"""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
          count(*) AS n_items,
          CAST(CAST(sum($disc) AS VARCHAR) AS DOUBLE) AS revenue,
          CAST(CAST(sum((CAST(l_quantity AS DECIMAL(9,4)) * CAST(0.60 AS DECIMAL(3,2)))
            * CAST(p_retailprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS cost,
          CAST(CAST(sum($disc - (CAST(l_quantity AS DECIMAL(9,4)) * CAST(0.60 AS DECIMAL(3,2)))
            * CAST(p_retailprice AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY 1, 2 ORDER BY nation, o_year""",
      // q35: Q16 shape — anti-join blacklist then two-level distinct.
      // q38: decimal aggregate states merge exactly — the oracle
      // recomputes both arms and the same bit-exact verdict.
      // q39: estimates from per-date count tables; est_hist folds its
      // 16 per-bucket divides in bucket order (seedless list_reduce ==
      // Spark's 0D-seeded fold).
      "q39_join_estimate" -> """
        WITH od AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS oc
                    FROM orders GROUP BY 1),
        ld AS (SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS lc
               FROM lineitem GROUP BY 1),
        t_o AS (SELECT CAST(sum(oc) AS BIGINT) AS n_orders,
                  CAST(count(*) AS BIGINT) AS ndv_dates_o FROM od),
        t_l AS (SELECT CAST(sum(lc) AS BIGINT) AS n_lineitems,
                  CAST(count(*) AS BIGINT) AS ndv_dates_l FROM ld),
        act AS (SELECT CAST(coalesce(sum(oc * lc), 0) AS BIGINT) AS actual_pairs
                FROM od JOIN ld USING (d)),
        bo AS (SELECT date_diff('day', DATE '1992-01-01', d) % 16 AS b,
                 CAST(sum(oc) AS BIGINT) AS no_b,
                 CAST(count(*) AS BIGINT) AS ndvo_b FROM od GROUP BY 1),
        bl AS (SELECT date_diff('day', DATE '1992-01-01', d) % 16 AS b,
                 CAST(sum(lc) AS BIGINT) AS nl_b,
                 CAST(count(*) AS BIGINT) AS ndvl_b FROM ld GROUP BY 1),
        hist AS (SELECT coalesce(list_reduce(
                   list(CAST(no_b * nl_b AS DOUBLE) /
                        CAST(greatest(ndvo_b, ndvl_b) AS DOUBLE) ORDER BY b),
                   (a, x) -> a + x), 0.0) AS est_hist
                 FROM bo JOIN bl USING (b))
        SELECT n_orders, n_lineitems, ndv_dates_o, ndv_dates_l, actual_pairs,
          CAST(n_orders * n_lineitems AS DOUBLE) /
            CAST(greatest(ndv_dates_o, ndv_dates_l) AS DOUBLE) AS est_naive,
          est_hist
        FROM t_o, t_l, act, hist""",
      // q47: the identical LATERAL top-1; doubles pass through with
      // no accumulation, so no casts are needed.
      "q47_vip_latest_order" -> """
        SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_orderdate,
          o.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_orderdate, o_totalprice
                 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o
        WHERE c.c_acctbal > 8000.0
        ORDER BY c.c_custkey""",
      // q46: same NOT EXISTS + algebraized avg bar; DuckDB's
      // o_orderdate is already timestamp, double via VARCHAR.
      // (q43 below: exact-decimal equality to the view max; only the
      // report column casts to double — via varchar, the decimal rule.)
      "q46_dormant_accounts" -> """
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
          CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS totacctbal
        FROM customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,4)) *
            (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
          > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,4)))
             FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        GROUP BY c_nationkey
        ORDER BY c_nationkey""",
      // q45: the same GROUP BY + HAVING with scalar subqueries; the
      // bar compare is exact decimal*bigint; double via VARCHAR.
      "q45_value_concentration" -> """
        SELECT l_partkey,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS part_value
        FROM lineitem
        GROUP BY l_partkey
        HAVING sum(CAST(l_extendedprice AS DECIMAL(18,2))) *
            (SELECT count(DISTINCT l_partkey) FROM lineitem)
          > (SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM lineitem)
        ORDER BY part_value DESC, l_partkey""",
      "q44_min_cost_supplier" -> """
        WITH ps AS (SELECT l_partkey, l_suppkey,
                      sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost
                    FROM lineitem GROUP BY l_partkey, l_suppkey)
        SELECT p.p_partkey, p.p_brand, d.l_suppkey AS s_suppkey, s.s_name,
          CAST(CAST(d.cost AS VARCHAR) AS DOUBLE) AS min_cost
        FROM ps d
        JOIN part p ON p.p_partkey = d.l_partkey
        JOIN supplier s ON s.s_suppkey = d.l_suppkey
        WHERE p.p_size <= 10
          AND d.cost = (SELECT min(x.cost) FROM ps x
                        WHERE x.l_partkey = d.l_partkey)
        ORDER BY p.p_partkey, s_suppkey""",
      "q43_top_supplier" -> """
        WITH v AS (SELECT l_suppkey,
                     sum(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,3))))
                       AS total_dec
                   FROM lineitem
                   WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                     AND l_shipdate <  TIMESTAMP '1996-04-01'
                   GROUP BY l_suppkey)
        SELECT s.s_suppkey, s.s_name,
          CAST(CAST(v.total_dec AS VARCHAR) AS DOUBLE) AS total_revenue
        FROM v JOIN supplier s ON v.l_suppkey = s.s_suppkey
        WHERE v.total_dec = (SELECT max(total_dec) FROM v)
        ORDER BY s.s_suppkey""",
      // q42: the melted matrix IS the direct aggregate zero-filled;
      // the oracle emits it directly with a literal TRUE verdict, so
      // any round-trip loss fails the hash compare.
      "q42_priority_melt" -> """
        WITH direct AS (SELECT o_orderstatus,
                          CASE o_orderpriority
                            WHEN '1-URGENT' THEN 'urgent'
                            WHEN '2-HIGH' THEN 'high'
                            WHEN '3-MEDIUM' THEN 'medium'
                            WHEN '4-NOT SPECIFIED' THEN 'unspecified'
                            ELSE 'low' END AS priority,
                          CAST(count(*) AS BIGINT) AS n
                        FROM orders GROUP BY 1, 2),
        grid AS (SELECT s.o_orderstatus, p.priority
                 FROM (SELECT DISTINCT o_orderstatus FROM orders) s,
                   (VALUES ('urgent'), ('high'), ('medium'),
                           ('unspecified'), ('low')) p(priority))
        SELECT g.o_orderstatus, g.priority, coalesce(d.n, 0) AS n, TRUE AS matches
        FROM grid g LEFT JOIN direct d
          ON g.o_orderstatus = d.o_orderstatus AND g.priority = d.priority
        ORDER BY g.o_orderstatus, g.priority""",
      // q41: each FK edge replayed as a LEFT JOIN against the distinct
      // parent keys; null child keys orphan by the same join miss.
      "q41_fk_audit" -> """
        SELECT * FROM (
          SELECT 'customer.c_nationkey->nation' AS fk,
            CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(*) FILTER (WHERE p.k IS NULL) AS BIGINT) AS n_orphans,
            count(*) FILTER (WHERE p.k IS NULL) = 0 AS ok
          FROM customer ch LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
            ON ch.c_nationkey = p.k
          UNION ALL
          SELECT 'lineitem.l_orderkey->orders',
            CAST(count(*) AS BIGINT),
            CAST(count(*) FILTER (WHERE p.k IS NULL) AS BIGINT),
            count(*) FILTER (WHERE p.k IS NULL) = 0
          FROM lineitem ch LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
            ON ch.l_orderkey = p.k
          UNION ALL
          SELECT 'lineitem.l_partkey->part',
            CAST(count(*) AS BIGINT),
            CAST(count(*) FILTER (WHERE p.k IS NULL) AS BIGINT),
            count(*) FILTER (WHERE p.k IS NULL) = 0
          FROM lineitem ch LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
            ON ch.l_partkey = p.k
          UNION ALL
          SELECT 'lineitem.l_suppkey->supplier',
            CAST(count(*) AS BIGINT),
            CAST(count(*) FILTER (WHERE p.k IS NULL) AS BIGINT),
            count(*) FILTER (WHERE p.k IS NULL) = 0
          FROM lineitem ch LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p
            ON ch.l_suppkey = p.k
          UNION ALL
          SELECT 'nation.n_regionkey->region',
            CAST(count(*) AS BIGINT),
            CAST(count(*) FILTER (WHERE p.k IS NULL) AS BIGINT),
            count(*) FILTER (WHERE p.k IS NULL) = 0
          FROM nation ch LEFT JOIN (SELECT DISTINCT r_regionkey AS k FROM region) p
            ON ch.n_regionkey = p.k
          UNION ALL
          SELECT 'orders.o_custkey->customer',
            CAST(count(*) AS BIGINT),
            CAST(count(*) FILTER (WHERE p.k IS NULL) AS BIGINT),
            count(*) FILTER (WHERE p.k IS NULL) = 0
          FROM orders ch LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
            ON ch.o_custkey = p.k
          UNION ALL
          SELECT 'supplier.s_nationkey->nation',
            CAST(count(*) AS BIGINT),
            CAST(count(*) FILTER (WHERE p.k IS NULL) AS BIGINT),
            count(*) FILTER (WHERE p.k IS NULL) = 0
          FROM supplier ch LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
            ON ch.s_nationkey = p.k
        ) t ORDER BY fk""",
      // q40: arg_max on the identical integer ordinal; the window arm
      // replayed the same way, verdict joined per key.
      "q40_latest_orders" -> """
        WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                     date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                       * 10000000000 + o_orderkey AS ord
                   FROM orders WHERE o_custkey <= 100),
        a AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                arg_max(o_orderkey, ord) AS last_orderkey,
                arg_max(o_orderdate, ord) AS last_date,
                arg_max(o_totalprice, ord) AS last_price
              FROM o GROUP BY o_custkey),
        w AS (SELECT o_custkey, o_orderkey AS w_orderkey FROM (
                SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM o) t WHERE rn = 1)
        SELECT a.o_custkey, a.n_orders, a.last_orderkey,
          CAST(a.last_date AS DATE) AS last_date,
          CAST(a.last_price AS DOUBLE) AS last_price,
          a.last_orderkey = w.w_orderkey AS matches
        FROM a JOIN w ON a.o_custkey = w.o_custkey
        ORDER BY a.o_custkey""",
      "q38_incremental_agg" -> """
        WITH li AS (SELECT l_returnflag, l_orderkey,
                      CAST(l_quantity AS DECIMAL(18,4)) AS qty,
                      CAST(l_extendedprice AS DECIMAL(18,4)) AS price
                    FROM lineitem),
        b AS (SELECT l_returnflag, count(*) AS n_b, sum(qty) AS sq_b,
                sum(price) AS sp_b
              FROM li WHERE l_orderkey % 10 <> 0 GROUP BY 1),
        d AS (SELECT l_returnflag, count(*) AS n_d, sum(qty) AS sq_d,
                sum(price) AS sp_d
              FROM li WHERE l_orderkey % 10 = 0 GROUP BY 1),
        f AS (SELECT l_returnflag, count(*) AS n, sum(qty) AS sq,
                sum(price) AS sp
              FROM li GROUP BY 1),
        m AS (SELECT l_returnflag,
                COALESCE(n_b, 0) + COALESCE(n_d, 0) AS n_merged,
                COALESCE(sq_b, 0) + COALESCE(sq_d, 0) AS sq_merged,
                COALESCE(sp_b, 0) + COALESCE(sp_d, 0) AS sp_merged,
                COALESCE(n_d, 0) AS n_delta
              FROM b FULL JOIN d USING (l_returnflag))
        SELECT m.l_returnflag, n_delta, n_merged, f.n AS n_full,
          CAST(CAST(sq_merged AS VARCHAR) AS DOUBLE) AS sum_qty_merged,
          CAST(CAST(f.sq AS VARCHAR) AS DOUBLE) AS sum_qty_full,
          CAST(CAST(sp_merged AS VARCHAR) AS DOUBLE) AS sum_price_merged,
          CAST(CAST(f.sp AS VARCHAR) AS DOUBLE) AS sum_price_full,
          (n_merged = f.n AND sq_merged = f.sq AND sp_merged = f.sp) AS matches
        FROM m JOIN f USING (l_returnflag) ORDER BY m.l_returnflag""",
      // q37: sums stay DECIMAL through the dominance compare (exact
      // cross-multiply); one final correctly-rounded double cast via
      // VARCHAR (the decimal-sum convention).
      "q37_dominant_suppliers" -> """
        WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
        ps AS (SELECT l_partkey, l_suppkey,
                 sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty_s
               FROM lineitem JOIN promo ON l_partkey = p_partkey
               GROUP BY l_partkey, l_suppkey),
        tot AS (SELECT l_partkey, sum(qty_s) AS qty_total,
                  count(*) AS n_supp FROM ps GROUP BY l_partkey),
        dom AS (SELECT ps.l_partkey, ps.l_suppkey, ps.qty_s
                FROM ps JOIN tot ON ps.l_partkey = tot.l_partkey
                WHERE ps.qty_s * n_supp > tot.qty_total * 2)
        SELECT n.n_name AS nation,
          count(*) AS n_dominated_parts,
          count(DISTINCT s.s_suppkey) AS n_suppliers,
          CAST(CAST(sum(dom.qty_s) AS VARCHAR) AS DOUBLE) AS dominated_qty
        FROM dom
        JOIN supplier s ON dom.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY nation""",
      // q36: identical integer derivations (// = div for positive
      // ints); the interleave is the same shift/mask sum.
      "q36_zorder_layout" -> """
        WITH st AS (SELECT CAST(min(l_partkey) AS BIGINT) AS pk_min,
                           CAST(max(l_partkey) AS BIGINT) AS pk_max,
                           CAST(min(l_suppkey) AS BIGINT) AS sk_min,
                           CAST(max(l_suppkey) AS BIGINT) AS sk_max
                    FROM lineitem),
        f AS (SELECT CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk,
                (CAST(l_partkey AS BIGINT) - pk_min) * 16 // (pk_max - pk_min + 1) AS xp,
                (CAST(l_suppkey AS BIGINT) - sk_min) * 16 // (sk_max - sk_min + 1) AS yp
              FROM lineitem CROSS JOIN st),
        fz AS (SELECT pk, sk, xp AS file_lin,
                 ((((xp >> 0) & 1) << 0) + (((yp >> 0) & 1) << 1) +
                  (((xp >> 1) & 1) << 2) + (((yp >> 1) & 1) << 3) +
                  (((xp >> 2) & 1) << 4) + (((yp >> 2) & 1) << 5) +
                  (((xp >> 3) & 1) << 6) + (((yp >> 3) & 1) << 7)) // 16 AS file_z
               FROM f),
        armlin AS (SELECT 'linear' AS layout, file_lin AS file_id, count(*) AS n_rows,
                     min(pk) AS min_pk, max(pk) AS max_pk,
                     min(sk) AS min_sk, max(sk) AS max_sk
                   FROM fz GROUP BY file_lin),
        armz AS (SELECT 'zorder' AS layout, file_z AS file_id, count(*) AS n_rows,
                   min(pk) AS min_pk, max(pk) AS max_pk,
                   min(sk) AS min_sk, max(sk) AS max_sk
                 FROM fz GROUP BY file_z),
        u AS (SELECT * FROM armlin UNION ALL SELECT * FROM armz)
        SELECT layout, file_id, n_rows, min_pk, max_pk, min_sk, max_sk,
          (max_pk < pk_min + (pk_max - pk_min + 1) * 4 // 16 OR
           min_pk > pk_min + (pk_max - pk_min + 1) * 8 // 16 - 1 OR
           max_sk < sk_min + (sk_max - sk_min + 1) * 12 // 16 OR
           min_sk > sk_max) AS prunable
        FROM u CROSS JOIN st ORDER BY layout, file_id""",
      "q35_supplier_variety" -> """
        WITH ok AS (
          SELECT l_partkey, l_suppkey FROM lineitem
          WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)),
        pd AS (
          SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
          FROM ok JOIN part ON l_partkey = p_partkey)
        SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
        FROM pd GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
      // q30: the q29 algebraized threshold on balances; LEFT JOIN +
      // coalesce(0) keeps order-less customers in scope by principle
      // even though this generator produces none.
      "q30_idle_rich" -> """
        WITH thr AS (
          SELECT sum(CAST(c_acctbal AS DECIMAL(18,4))) AS sum_pos,
            count(*) AS n_pos
          FROM customer WHERE c_acctbal > 0.0),
        cnt AS (SELECT o_custkey, count(*) AS n_ord FROM orders GROUP BY 1),
        cc AS (
          SELECT c.c_custkey, c.c_acctbal, c.c_nationkey,
            coalesce(cnt.n_ord, 0) AS n_orders
          FROM customer c LEFT JOIN cnt ON c.c_custkey = cnt.o_custkey)
        SELECT n_name, count(*) AS n_custs,
          CAST(sum(n_orders) AS BIGINT) AS sum_orders,
          CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR)
            AS DOUBLE) AS total_acctbal
        FROM cc CROSS JOIN thr
        JOIN nation ON cc.c_nationkey = n_nationkey
        WHERE n_orders < 8
          AND CAST(c_acctbal AS DECIMAL(18,4)) * n_pos > sum_pos
        GROUP BY n_name ORDER BY n_name""",
      // q29: same algebraized predicate (5·qty·count < sum), decimal
      // revenue cast via VARCHAR.
      "q29_small_qty_revenue" -> """
        WITH pa AS (
          SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS s_qty,
            count(*) AS n_li
          FROM lineitem GROUP BY 1)
        SELECT count(*) AS n_small,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
            AS DOUBLE) AS revenue,
          CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR)
            AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
        WHERE CAST(l.l_quantity AS DECIMAL(18,4)) * 5 * pa.n_li < pa.s_qty""",
      // q28: decimal sums, VARCHAR-bridged double casts, identical
      // window orderings; percent_rank is (rank-1)/(n-1) in both.
      "q28_market_share" -> """
        WITH rev AS (
          SELECT n_name, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name),
        t AS (SELECT n_name, rev_dec, sum(rev_dec) OVER () AS total_dec
              FROM rev)
        SELECT n_name,
          CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS revenue,
          CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE)
            / CAST(CAST(total_dec AS VARCHAR) AS DOUBLE) AS share,
          CAST(row_number() OVER (ORDER BY rev_dec DESC, n_name) AS BIGINT)
            AS rev_rank,
          percent_rank() OVER (ORDER BY rev_dec DESC, n_name) AS pct_rank
        FROM t ORDER BY rev_rank""",
      "q25_integrity_audit" -> """
        WITH k AS (SELECT l_orderkey, l_linenumber, count(*) AS cnt
                   FROM lineitem GROUP BY 1, 2),
        ks AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                 count(*) AS n_keys,
                 CAST(coalesce(sum(CASE WHEN cnt > 1 THEN 1 END), 0) AS BIGINT)
                   AS n_dup_keys,
                 max(cnt) AS max_key_multiplicity
               FROM k),
        o AS (SELECT count(*) AS fk_orphans
              FROM lineitem l LEFT JOIN orders ord
                ON l.l_orderkey = ord.o_orderkey
              WHERE ord.o_orderkey IS NULL)
        SELECT n_rows, n_keys, n_dup_keys, max_key_multiplicity, fk_orphans,
          (n_dup_keys = 0 AND fk_orphans = 0) AS clean
        FROM ks, o""",
      "q20_salted_agg" -> """
        SELECT l_returnflag,
          CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
          count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      // s37: the s04 assignment replay reduced to cell sizes; verdict
      // cross-multiplied, imbalance one divide.
      // s38: the PSI replay — frozen history edges, one fixed binning
      // chain, ln over integer products, bin-ordered fold.
      "s38_embedding_drift" -> """
        WITH ex AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
                      CAST(embedding[i] AS DOUBLE) AS x,
                      vec_id % 7 = 2 AS is_arr
                    FROM embeddings,
                      LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) ii),
        edges AS MATERIALIZED (SELECT dim, min(x) AS gmin, max(x) AS gmax
                 FROM ex WHERE NOT is_arr GROUP BY dim),
        binned AS (SELECT e.dim,
                     CASE WHEN ed.gmax = ed.gmin THEN 0
                          ELSE least(7, greatest(0,
                            CAST(floor((e.x - ed.gmin) * 8.0 / (ed.gmax - ed.gmin)) AS BIGINT))) END AS bin,
                     CAST(sum(CASE WHEN e.is_arr THEN 0 ELSE 1 END) AS BIGINT) AS c_hist,
                     CAST(sum(CASE WHEN e.is_arr THEN 1 ELSE 0 END) AS BIGINT) AS c_arr
                   FROM ex e JOIN edges ed ON ed.dim = e.dim
                   GROUP BY 1, 2),
        spine AS (SELECT dim, CAST(unnest(generate_series(0, 7)) AS BIGINT) AS bin
                  FROM edges),
        cells AS MATERIALIZED (SELECT s.dim, s.bin,
                    coalesce(b.c_hist, 0) + 1 AS cp,
                    coalesce(b.c_arr, 0) + 1 AS cq
                  FROM spine s LEFT JOIN binned b
                    ON b.dim = s.dim AND b.bin = s.bin),
        tot AS (SELECT dim, CAST(sum(cp) AS BIGINT) AS np,
                  CAST(sum(cq) AS BIGINT) AS nq FROM cells GROUP BY dim)
        SELECT c.dim, CAST(t.np - 8 AS BIGINT) AS n_hist,
          CAST(t.nq - 8 AS BIGINT) AS n_arr,
          list_reduce(list(
            (CAST(c.cp AS DOUBLE) / CAST(t.np AS DOUBLE)
             - CAST(c.cq AS DOUBLE) / CAST(t.nq AS DOUBLE))
            * (ln(CAST(c.cp * t.nq AS DOUBLE)) - ln(CAST(c.cq * t.np AS DOUBLE)))
            ORDER BY c.bin), (a, b) -> a + b) AS psi,
          list_reduce(list(
            (CAST(c.cp AS DOUBLE) / CAST(t.np AS DOUBLE)
             - CAST(c.cq AS DOUBLE) / CAST(t.nq AS DOUBLE))
            * (ln(CAST(c.cp * t.nq AS DOUBLE)) - ln(CAST(c.cq * t.np AS DOUBLE)))
            ORDER BY c.bin), (a, b) -> a + b) > 0.2 AS drifted
        FROM cells c JOIN tot t ON t.dim = c.dim
        GROUP BY c.dim, t.np, t.nq
        ORDER BY c.dim""",
      "s37_cell_imbalance" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, cell_id FROM (
          SELECT e.vec_id, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        cells AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS n
                  FROM assigned GROUP BY cell_id)
        SELECT CAST(count(*) AS BIGINT) AS k_cells, CAST(sum(n) AS BIGINT) AS n_vecs,
          CAST(max(n) AS BIGINT) AS max_cell, CAST(min(n) AS BIGINT) AS min_cell,
          CAST(max(n) * count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS imbalance,
          max(n) * count(*) <= sum(n) * 2 AS balanced
        FROM cells""",
      "s04_knn_ivf" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell_id AS q_cell
              FROM assigned WHERE vec_id < 5)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT q.q_id, a.vec_id,
            list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) AS cos,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY list_dot_product(q.qv, a.v) / (q.qnrm * a.nrm) DESC, a.vec_id) AS rank
          FROM q JOIN assigned a ON a.cell_id = q.q_cell AND a.vec_id <> q.q_id) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      "d16_semantic_prune" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, v, nrm, cell_id FROM (
          SELECT e.vec_id, e.v, e.nrm, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1)
        SELECT vec_id, kept_by, cell_id, cos FROM (
          SELECT a.vec_id, b.vec_id AS kept_by, a.cell_id,
            list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY list_dot_product(a.v, b.v) / (a.nrm * b.nrm) DESC, b.vec_id) AS r
          FROM assigned a JOIN assigned b
            ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
          WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35) t
        WHERE r = 1 ORDER BY vec_id""",
      "d14_incremental" -> """
        WITH nh AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0),
        hh AS (SELECT doc_id AS hist_doc, md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
        exact AS (SELECT nh.doc_id, min(hh.hist_doc) AS exact_match
                  FROM nh JOIN hh ON nh.h = hh.h GROUP BY nh.doc_id),
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        hb AS (SELECT j, bkey, doc_id AS hist_doc FROM bands WHERE doc_id % 5 <> 0),
        smallh AS (SELECT j, bkey FROM hb GROUP BY j, bkey HAVING count(*) <= 64),
        near AS (SELECT nb.doc_id, min(hb.hist_doc) AS near_match
                 FROM bands nb
                 JOIN hb ON nb.j = hb.j AND nb.bkey = hb.bkey
                 JOIN smallh sm ON hb.j = sm.j AND hb.bkey = sm.bkey
                 WHERE nb.doc_id % 5 = 0 GROUP BY nb.doc_id),
        merged AS (SELECT COALESCE(e.doc_id, n.doc_id) AS doc_id,
                     e.exact_match, n.near_match
                   FROM exact e FULL OUTER JOIN near n ON e.doc_id = n.doc_id)
        SELECT doc_id,
          exact_match IS NOT NULL AS exact_dup,
          near_match IS NOT NULL AS near_dup,
          least(COALESCE(exact_match, near_match),
                COALESCE(near_match, exact_match)) AS best_match
        FROM merged ORDER BY doc_id""",
      "d15_incremental_multi" -> """
        WITH nh AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 = 0),
        hh AS (SELECT doc_id AS hist_doc, md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
        exact AS (SELECT nh.doc_id, min(hh.hist_doc) AS exact_match
                  FROM nh JOIN hh ON nh.h = hh.h GROUP BY nh.doc_id),
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        hb AS (SELECT j, bkey, doc_id AS hist_doc FROM bands WHERE doc_id % 5 <> 0),
        smallh AS (SELECT j, bkey FROM hb GROUP BY j, bkey HAVING count(*) <= 64),
        near AS (SELECT nb.doc_id, min(hb.hist_doc) AS near_match
                 FROM bands nb
                 JOIN hb ON nb.j = hb.j AND nb.bkey = hb.bkey
                 JOIN smallh sm ON hb.j = sm.j AND hb.bkey = sm.bkey
                 WHERE nb.doc_id % 5 = 0 GROUP BY nb.doc_id),
        tc AS (SELECT doc_id, tok, count(*) AS cnt FROM (
                 SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                 FROM documents) x GROUP BY doc_id, tok),
        sh0 AS (SELECT doc_id, cnt, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tc),
        sb AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS w
               FROM sh0, (SELECT unnest(generate_series(0, 59)) AS i) ii GROUP BY doc_id, i),
        sh AS (SELECT doc_id, CAST(sum(CASE WHEN w >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
               FROM sb GROUP BY doc_id),
        sbands AS (SELECT doc_id, simhash, j, (simhash >> (15 * j)) & 32767 AS bv
                   FROM sh, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        simm AS (SELECT a.doc_id, min(b.doc_id) AS sim_match
                 FROM sbands a JOIN sbands b ON a.j = b.j AND a.bv = b.bv
                 WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                   AND bit_count(xor(a.simhash, b.simhash)) <= 8
                 GROUP BY a.doc_id),
        merged AS (SELECT COALESCE(e.doc_id, n.doc_id, s.doc_id) AS doc_id,
                     e.exact_match, n.near_match, s.sim_match
                   FROM exact e
                   FULL OUTER JOIN near n ON e.doc_id = n.doc_id
                   FULL OUTER JOIN simm s ON COALESCE(e.doc_id, n.doc_id) = s.doc_id)
        SELECT doc_id,
          exact_match IS NOT NULL AS exact_dup,
          near_match IS NOT NULL AS near_dup,
          sim_match IS NOT NULL AS sim_dup,
          least(COALESCE(exact_match, near_match, sim_match),
                COALESCE(near_match, sim_match, exact_match),
                COALESCE(sim_match, exact_match, near_match)) AS best_match
        FROM merged ORDER BY doc_id""",
      "d13_dup_clusters_multi" -> """
        WITH RECURSIVE
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        mh AS (SELECT doc_id, i,
                 list_min(list_transform(th, h -> ((2*i + 1) * h + 40503 * i) % 2147483647)) AS m
               FROM tk, (SELECT unnest(generate_series(0, 11)) AS i) ii),
        sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
        bands AS (SELECT doc_id, j,
                    ((sig[3*j+1] * 31 + sig[3*j+2]) % 2147483647 * 31 + sig[3*j+3]) % 2147483647 AS bkey
                  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        small AS (SELECT j, bkey FROM bands GROUP BY j, bkey
                  HAVING count(*) <= 64 AND count(*) > 1),
        inb AS (SELECT b.* FROM bands b JOIN small s ON b.j = s.j AND b.bkey = s.bkey),
        mpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM inb a JOIN inb b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        tc AS (SELECT doc_id, tok, count(*) AS cnt FROM (
                 SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tok
                 FROM documents) x GROUP BY doc_id, tok),
        sh0 AS (SELECT doc_id, cnt, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tc),
        sb AS (SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS w
               FROM sh0, (SELECT unnest(generate_series(0, 59)) AS i) ii GROUP BY doc_id, i),
        sh AS (SELECT doc_id, CAST(sum(CASE WHEN w >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
               FROM sb GROUP BY doc_id),
        sbands AS (SELECT doc_id, simhash, j, (simhash >> (15 * j)) & 32767 AS bv
                   FROM sh, (SELECT unnest(generate_series(0, 3)) AS j) jj),
        spairs AS (SELECT doc_a, doc_b FROM (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sim_a, b.simhash AS sim_b
          FROM sbands a JOIN sbands b
            ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id) t
          WHERE bit_count(xor(sim_a, sim_b)) <= 8),
        allp AS (SELECT * FROM mpairs UNION SELECT * FROM spairs),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM allp
                  UNION ALL SELECT doc_b, doc_a FROM allp),
        walk(node, lbl) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node)
        SELECT node AS doc_id, min(lbl) AS cluster_id
        FROM walk GROUP BY node ORDER BY doc_id""",
      "s05_knn_multiprobe" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
                     (CASE WHEN embedding[1] > 0.0 THEN 1 ELSE 0 END) +
                     (CASE WHEN embedding[2] > 0.0 THEN 2 ELSE 0 END) +
                     (CASE WHEN embedding[3] > 0.0 THEN 4 ELSE 0 END) +
                     (CASE WHEN embedding[4] > 0.0 THEN 8 ELSE 0 END) AS bucket
                   FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm,
                unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                        xor(bucket, 4), xor(bucket, 8)]) AS probe_bucket
              FROM e WHERE vec_id < 5)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT q.q_id, e.vec_id,
            list_dot_product(q.qv, e.v) / (q.qnrm * e.nrm) AS cos,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY list_dot_product(q.qv, e.v) / (q.qnrm * e.nrm) DESC, e.vec_id) AS rank
          FROM q JOIN e ON e.bucket = q.probe_bucket AND e.vec_id <> q.q_id) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      // PQ/ADC: 4 subspaces x 16 seed centroids; corpus encoded as
      // centroid ids (argmin subspace L2^2, id tiebreak), queries rank
      // by the 4-lookup ADC sum pinned to subspace order 0+1+2+3. The
      // `dists` CTE doubles as encode input and query distance table.
      "s06_knn_pq" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sub AS (SELECT vec_id, m, v[16*m+1 : 16*m+16] AS sv
                FROM e, (SELECT unnest(generate_series(0, 3)) AS m) mm),
        cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id < 16),
        dists AS (SELECT s.vec_id, s.m, cb.k,
                    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv)
                      + list_dot_product(cb.cv, cb.cv) AS d
                  FROM sub s JOIN cb ON s.m = cb.m),
        enc AS (SELECT vec_id, m, k AS code FROM (
                  SELECT vec_id, m, k,
                    row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k) AS rnk
                  FROM dists) t WHERE rnk = 1),
        adc AS (SELECT qd.vec_id AS q_id, enc.vec_id AS vec_id,
                  max(CASE WHEN enc.m = 0 THEN qd.d END) + max(CASE WHEN enc.m = 1 THEN qd.d END)
                  + max(CASE WHEN enc.m = 2 THEN qd.d END) + max(CASE WHEN enc.m = 3 THEN qd.d END) AS adc2
                FROM enc JOIN dists qd ON qd.m = enc.m AND qd.k = enc.code
                WHERE qd.vec_id < 5 AND enc.vec_id <> qd.vec_id
                GROUP BY qd.vec_id, enc.vec_id)
        SELECT q_id, rank, vec_id, adc2 FROM (
          SELECT q_id, vec_id, adc2,
            row_number() OVER (PARTITION BY q_id ORDER BY adc2 ASC, vec_id) AS rank
          FROM adc) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      "s09_centroid_reps" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, cell_id, ccos FROM (
          SELECT e.vec_id, cb.cell_id,
            list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) AS ccos,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        ranked AS (SELECT vec_id, cell_id, ccos,
                     row_number() OVER (PARTITION BY cell_id
                       ORDER BY ccos DESC, vec_id) AS rrank
                   FROM assigned)
        SELECT cell_id, count(*) AS n_members,
          max(CASE WHEN rrank = 1 THEN vec_id END) AS rep_id,
          max(CASE WHEN rrank = 1 THEN ccos END) AS rep_cos,
          min(ccos) AS min_cos
        FROM ranked GROUP BY cell_id ORDER BY cell_id""",
      "s10_quantization" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        el AS (SELECT vec_id, d, v[d + 1] AS x
               FROM e, (SELECT unnest(generate_series(0, 63)) AS d) dd),
        st AS (SELECT d, min(x) AS d_min, max(x) AS d_max FROM el GROUP BY d),
        qv AS (SELECT el.d, el.x, st.d_min, st.d_max,
                 CAST(floor((el.x - st.d_min) * 255.0 / (st.d_max - st.d_min)) AS BIGINT) AS q
               FROM el JOIN st ON el.d = st.d)
        SELECT CAST(d AS BIGINT) AS dim, min(d_min) AS d_min, max(d_max) AS d_max,
          max((d_max - d_min) / 255.0) AS scale,
          CAST(sum(q) AS BIGINT) AS q_sum,
          max(abs(CAST(q AS DOUBLE) * ((d_max - d_min) / 255.0) + d_min - x)) AS max_abs_err
        FROM qv GROUP BY d ORDER BY dim""",
      "s08_knn_ivfpq" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        ccb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        cells AS (SELECT vec_id, cell_id FROM (
          SELECT e.vec_id, ccb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, ccb.cv) / (e.nrm * ccb.cnrm) DESC, ccb.cell_id) AS arank
          FROM e CROSS JOIN ccb) t WHERE arank = 1),
        sub AS (SELECT vec_id, m, v[16*m+1 : 16*m+16] AS sv
                FROM e, (SELECT unnest(generate_series(0, 3)) AS m) mm),
        cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id < 16),
        dists AS (SELECT s.vec_id, s.m, cb.k,
                    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv)
                      + list_dot_product(cb.cv, cb.cv) AS d
                  FROM sub s JOIN cb ON s.m = cb.m),
        enc AS (SELECT vec_id, m, k AS code FROM (
                  SELECT vec_id, m, k,
                    row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k) AS rnk
                  FROM dists) t WHERE rnk = 1),
        adc AS (SELECT qd.vec_id AS q_id, enc.vec_id AS vec_id,
                  max(CASE WHEN enc.m = 0 THEN qd.d END) + max(CASE WHEN enc.m = 1 THEN qd.d END)
                  + max(CASE WHEN enc.m = 2 THEN qd.d END) + max(CASE WHEN enc.m = 3 THEN qd.d END) AS adc2
                FROM enc JOIN dists qd ON qd.m = enc.m AND qd.k = enc.code
                JOIN cells cc ON cc.vec_id = enc.vec_id
                JOIN cells cq ON cq.vec_id = qd.vec_id AND cq.cell_id = cc.cell_id
                WHERE qd.vec_id < 5 AND enc.vec_id <> qd.vec_id
                GROUP BY qd.vec_id, enc.vec_id),
        shortlist AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id ORDER BY adc2 ASC, vec_id) AS srank
          FROM adc) t WHERE srank <= 25)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT sl.q_id, sl.vec_id,
            list_dot_product(q.v, a.v) / (q.nrm * a.nrm) AS cos,
            row_number() OVER (PARTITION BY sl.q_id
              ORDER BY list_dot_product(q.v, a.v) / (q.nrm * a.nrm) DESC, sl.vec_id) AS rank
          FROM shortlist sl
          JOIN e a ON a.vec_id = sl.vec_id
          JOIN e q ON q.vec_id = sl.q_id) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      // s11: the s08 chain cut at width 50, each width a rank window
      // over the scored shortlist, recall against brute-force top-5.
      "s11_recall_audit" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        ccb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        cells AS (SELECT vec_id, cell_id FROM (
          SELECT e.vec_id, ccb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, ccb.cv) / (e.nrm * ccb.cnrm) DESC, ccb.cell_id) AS arank
          FROM e CROSS JOIN ccb) t WHERE arank = 1),
        sub AS (SELECT vec_id, m, v[16*m+1 : 16*m+16] AS sv
                FROM e, (SELECT unnest(generate_series(0, 3)) AS m) mm),
        cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id < 16),
        dists AS (SELECT s.vec_id, s.m, cb.k,
                    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv)
                      + list_dot_product(cb.cv, cb.cv) AS d
                  FROM sub s JOIN cb ON s.m = cb.m),
        enc AS (SELECT vec_id, m, k AS code FROM (
                  SELECT vec_id, m, k,
                    row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k) AS rnk
                  FROM dists) t WHERE rnk = 1),
        adc AS (SELECT qd.vec_id AS q_id, enc.vec_id AS vec_id,
                  max(CASE WHEN enc.m = 0 THEN qd.d END) + max(CASE WHEN enc.m = 1 THEN qd.d END)
                  + max(CASE WHEN enc.m = 2 THEN qd.d END) + max(CASE WHEN enc.m = 3 THEN qd.d END) AS adc2
                FROM enc JOIN dists qd ON qd.m = enc.m AND qd.k = enc.code
                JOIN cells cc ON cc.vec_id = enc.vec_id
                JOIN cells cq ON cq.vec_id = qd.vec_id AND cq.cell_id = cc.cell_id
                WHERE qd.vec_id < 5 AND enc.vec_id <> qd.vec_id
                GROUP BY qd.vec_id, enc.vec_id),
        shortlist AS (SELECT q_id, vec_id, srank FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id ORDER BY adc2 ASC, vec_id) AS srank
          FROM adc) t WHERE srank <= 50),
        scored AS (SELECT sl.q_id, sl.vec_id, sl.srank,
                     list_dot_product(q.v, a.v) / (q.nrm * a.nrm) AS cos
                   FROM shortlist sl
                   JOIN e a ON a.vec_id = sl.vec_id
                   JOIN e q ON q.vec_id = sl.q_id),
        appr AS (SELECT q_id, width, vec_id FROM (
          SELECT s.q_id, ww.width, s.vec_id,
            row_number() OVER (PARTITION BY s.q_id, ww.width
              ORDER BY s.cos DESC, s.vec_id) AS rnk
          FROM scored s, (SELECT unnest([5, 25, 50]) AS width) ww
          WHERE s.srank <= ww.width) t WHERE rnk <= 5),
        exact5 AS (SELECT q_id, vec_id FROM (
          SELECT q.vec_id AS q_id, a.vec_id,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_dot_product(q.v, a.v) / (q.nrm * a.nrm) DESC, a.vec_id) AS rnk
          FROM e q JOIN e a ON a.vec_id <> q.vec_id
          WHERE q.vec_id < 5) t WHERE rnk <= 5)
        SELECT ap.q_id, CAST(ap.width AS BIGINT) AS width,
          CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
          CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS recall_at_5
        FROM appr ap LEFT JOIN exact5 ex ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
        GROUP BY ap.q_id, ap.width ORDER BY ap.q_id, width""",
      // s12: the s04 assignment reduced to per-cell counts, occupancy
      // against the uniform share, and the split/merge rebalance plan.
      "s12_cell_rebalance" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        assigned AS (SELECT vec_id, cell_id FROM (
          SELECT e.vec_id, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1),
        pop AS (SELECT cell_id, count(*) AS n_vectors FROM assigned GROUP BY cell_id),
        occ AS (SELECT cell_id, n_vectors,
                  CAST(n_vectors * 16 AS DOUBLE) / CAST(sum(n_vectors) OVER () AS DOUBLE) AS occupancy
                FROM pop),
        nearest AS (SELECT cell_id, n_id AS nearest_cell FROM (
          SELECT a.cell_id, b.cell_id AS n_id,
            row_number() OVER (PARTITION BY a.cell_id
              ORDER BY list_dot_product(a.cv, b.cv) / (a.cnrm * b.cnrm) DESC, b.cell_id) AS r
          FROM cb a CROSS JOIN cb b WHERE a.cell_id <> b.cell_id) t WHERE r = 1)
        SELECT o.cell_id, o.n_vectors, o.occupancy,
          CASE WHEN o.occupancy > 1.1 THEN 'split'
               WHEN o.occupancy < 0.9 THEN 'merge' ELSE 'keep' END AS action,
          CAST(CASE WHEN o.occupancy > 1.1 THEN CEIL(o.occupancy)
                    WHEN o.occupancy < 0.9 THEN 0 ELSE 1 END AS BIGINT) AS n_target_cells,
          CASE WHEN o.occupancy < 0.9 THEN n.nearest_cell ELSE NULL END AS merge_into
        FROM occ o JOIN nearest n ON n.cell_id = o.cell_id
        ORDER BY o.cell_id""",
      // s14: the s04 assignment self-joined on cell, full top-3 per
      // vector — the kNN-graph edge list.
      "s14_knn_graph" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        cb AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cnrm FROM e WHERE vec_id < 16),
        cells AS (SELECT vec_id, cell_id FROM (
          SELECT e.vec_id, cb.cell_id,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY list_dot_product(e.v, cb.cv) / (e.nrm * cb.cnrm) DESC, cb.cell_id) AS arank
          FROM e CROSS JOIN cb) t WHERE arank = 1)
        SELECT vec_id, CAST(rank AS BIGINT) AS rank, nb_id, cos FROM (
          SELECT a.vec_id, b.vec_id AS nb_id,
            list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) AS cos,
            row_number() OVER (PARTITION BY a.vec_id
              ORDER BY list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm) DESC, b.vec_id) AS rank
          FROM cells a JOIN cells b ON b.cell_id = a.cell_id AND b.vec_id <> a.vec_id
          JOIN e ea ON ea.vec_id = a.vec_id
          JOIN e eb ON eb.vec_id = b.vec_id) t
        WHERE rank <= 3 ORDER BY vec_id, rank""",
      // s13: the SQ8 path — global-affine uint8 codes, approximate
      // cosine reconstructed from integer sums (every term exact in
      // double, so the shortlist ranking is engine-exact), exact
      // cosine re-rank of the top-25. FP chains mirror the Spark side
      // term for term.
      "s13_sq_rerank" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        st AS (SELECT min(x) AS gmin, max(x) AS gmax
               FROM (SELECT unnest(v) AS x FROM e)),
        c AS (SELECT vec_id,
                list_transform(v, x ->
                  CAST(floor((x - gmin) * 255.0 / (gmax - gmin)) AS DOUBLE)) AS qv,
                gmin, (gmax - gmin) / 255.0 AS scale
              FROM e, st),
        cs AS (SELECT vec_id, qv, gmin, scale,
                 CAST(list_sum(qv) AS DOUBLE) AS sq,
                 list_dot_product(qv, qv) AS sq2
               FROM c),
        pairs AS (SELECT q.vec_id AS q_id, v.vec_id AS vec_id,
                    (v.scale * v.scale * list_dot_product(q.qv, v.qv)
                     + v.scale * v.gmin * (q.sq + v.sq)
                     + 64.0 * v.gmin * v.gmin) /
                    (sqrt(v.scale * v.scale * q.sq2 + 2.0 * v.scale * v.gmin * q.sq
                          + 64.0 * v.gmin * v.gmin)
                     * sqrt(v.scale * v.scale * v.sq2 + 2.0 * v.scale * v.gmin * v.sq
                            + 64.0 * v.gmin * v.gmin)) AS acos
                  FROM cs q JOIN cs v ON v.vec_id <> q.vec_id
                  WHERE q.vec_id < 5),
        shortlist AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
            row_number() OVER (PARTITION BY q_id ORDER BY acos DESC, vec_id) AS srank
          FROM pairs) t WHERE srank <= 25)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT sl.q_id, sl.vec_id,
            list_dot_product(q.v, a.v) / (q.nrm * a.nrm) AS cos,
            row_number() OVER (PARTITION BY sl.q_id
              ORDER BY list_dot_product(q.v, a.v) / (q.nrm * a.nrm) DESC, sl.vec_id) AS rank
          FROM shortlist sl JOIN e a ON a.vec_id = sl.vec_id
          JOIN e q ON q.vec_id = sl.q_id) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      // Two-stage retrieval: the s06 ADC scoring shortlists top-25 per
      // query, exact cosine re-ranks only the shortlist.
      "s07_knn_pq_rerank" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        sub AS (SELECT vec_id, m, v[16*m+1 : 16*m+16] AS sv
                FROM e, (SELECT unnest(generate_series(0, 3)) AS m) mm),
        cb AS (SELECT m, vec_id AS k, sv AS cv FROM sub WHERE vec_id < 16),
        dists AS (SELECT s.vec_id, s.m, cb.k,
                    list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, cb.cv)
                      + list_dot_product(cb.cv, cb.cv) AS d
                  FROM sub s JOIN cb ON s.m = cb.m),
        enc AS (SELECT vec_id, m, k AS code FROM (
                  SELECT vec_id, m, k,
                    row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, k) AS rnk
                  FROM dists) t WHERE rnk = 1),
        adc AS (SELECT qd.vec_id AS q_id, enc.vec_id AS vec_id,
                  max(CASE WHEN enc.m = 0 THEN qd.d END) + max(CASE WHEN enc.m = 1 THEN qd.d END)
                  + max(CASE WHEN enc.m = 2 THEN qd.d END) + max(CASE WHEN enc.m = 3 THEN qd.d END) AS adc2
                FROM enc JOIN dists qd ON qd.m = enc.m AND qd.k = enc.code
                WHERE qd.vec_id < 5 AND enc.vec_id <> qd.vec_id
                GROUP BY qd.vec_id, enc.vec_id),
        shortlist AS (SELECT q_id, vec_id FROM (
                        SELECT q_id, vec_id,
                          row_number() OVER (PARTITION BY q_id ORDER BY adc2 ASC, vec_id) AS srank
                        FROM adc) t WHERE srank <= 25)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT sl.q_id, sl.vec_id,
            list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos,
            row_number() OVER (PARTITION BY sl.q_id
              ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC, sl.vec_id) AS rank
          FROM shortlist sl
          JOIN e q ON q.vec_id = sl.q_id
          JOIN e c ON c.vec_id = sl.vec_id) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      "s03_label_purity" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
                     (CASE WHEN embedding[1] > 0.0 THEN 1 ELSE 0 END) +
                     (CASE WHEN embedding[2] > 0.0 THEN 2 ELSE 0 END) +
                     (CASE WHEN embedding[3] > 0.0 THEN 4 ELSE 0 END) +
                     (CASE WHEN embedding[4] > 0.0 THEN 8 ELSE 0 END) AS bucket
                   FROM embeddings),
        top1 AS (SELECT q_label, nbr_label FROM (
          SELECT q.label AS q_label, e.label AS nbr_label,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC, e.vec_id) AS rank
          FROM e q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id) t
          WHERE rank = 1)
        SELECT q_label AS label, count(*) AS n_vecs,
          CAST(sum(CASE WHEN nbr_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_top1_match,
          CAST(CAST(sum(CASE WHEN nbr_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / count(*) AS purity
        FROM top1 GROUP BY q_label ORDER BY label""",
      // t41: t16's gram CTE probed against TWO labeled suites,
      // full-outer composed with coalesce(0) counts.
      "t41_multi_suite_decontam" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        grams AS (SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, len(th) - 3), i -> ((((((th[i]) * 31 + th[i+1]) % 2147483647) * 31 + th[i+2]) % 2147483647) * 31 + th[i+3]) % 2147483647)) AS gs
                  FROM tk WHERE len(th) >= 4),
        bga AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 0),
        bgb AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 89 = 0),
        cand AS (SELECT doc_id, unnest(gs) AS g FROM grams
                 WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0),
        a AS (SELECT doc_id, count(*) AS n FROM cand JOIN bga USING (g) GROUP BY 1),
        b AS (SELECT doc_id, count(*) AS n FROM cand JOIN bgb USING (g) GROUP BY 1)
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
          CAST(coalesce(a.n, 0) AS BIGINT) AS n_hits_a,
          CAST(coalesce(b.n, 0) AS BIGINT) AS n_hits_b,
          CASE WHEN coalesce(a.n, 0) > 0 AND coalesce(b.n, 0) > 0 THEN 'both'
               WHEN coalesce(a.n, 0) > 0 THEN 'suite_a'
               ELSE 'suite_b' END AS verdict
        FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        ORDER BY doc_id""",
      "t16_contamination" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        grams AS (SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, len(th) - 3), i -> ((((((th[i]) * 31 + th[i+1]) % 2147483647) * 31 + th[i+2]) % 2147483647) * 31 + th[i+3]) % 2147483647)) AS gs
                  FROM tk WHERE len(th) >= 4),
        bg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 0),
        cand AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 97 <> 0)
        SELECT cand.doc_id, count(*) AS n_hits
        FROM cand JOIN bg ON cand.g = bg.g
        GROUP BY cand.doc_id ORDER BY doc_id""",
      // t34: t16's gram pipeline with POSITIONS (struct list + recursive
      // unnest = posexplode); covered_tokens = interval-union length via
      // lag gaps-and-islands (first hit charges 4, later hits
      // min(gap, 4)).
      "t34_span_decontam" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        grams AS (SELECT doc_id, list_transform(
                    generate_series(1, len(th) - 3),
                    i -> struct_pack(pos := CAST(i - 1 AS BIGINT),
                      g := ((((((th[i]) * 31 + th[i+1]) % 2147483647) * 31 + th[i+2]) % 2147483647) * 31 + th[i+3]) % 2147483647)) AS gs
                  FROM tk WHERE len(th) >= 4),
        bg AS (SELECT DISTINCT u.g FROM
                 (SELECT unnest(gs, recursive := true) FROM grams
                  WHERE doc_id % 97 = 0) u),
        hit AS (SELECT c.doc_id, c.pos
                FROM (SELECT doc_id, unnest(gs, recursive := true) FROM grams
                      WHERE doc_id % 97 <> 0) c
                JOIN bg ON c.g = bg.g),
        isl AS (SELECT doc_id, pos,
                  pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
                FROM hit),
        agg AS (SELECT doc_id, count(*) AS n_hit_positions,
                  min(pos) AS first_pos, max(pos) AS last_pos,
                  CAST(sum(CASE WHEN gap IS NULL THEN 4
                                WHEN gap > 4 THEN 4 ELSE gap END) AS BIGINT)
                    AS covered_tokens
                FROM isl GROUP BY doc_id),
        nt AS (SELECT doc_id, CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)
                 AS n_tokens FROM documents)
        SELECT agg.doc_id, n_hit_positions, first_pos, last_pos,
          covered_tokens, n_tokens,
          CAST(covered_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS frac_covered
        FROM agg JOIN nt ON agg.doc_id = nt.doc_id ORDER BY agg.doc_id""",
      // Gopher-style repetition filters: integer-exact thresholds
      // (count*k <= total), max_run via gaps-and-islands, bigrams via
      // lead() — identical constructs in both engines.
      "t17_repetition" -> """
        WITH arr AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS a FROM documents),
        tok AS (SELECT doc_id, pos, a[pos] AS tok
                FROM arr, LATERAL (SELECT unnest(generate_series(1, len(a))) AS pos) p),
        tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
        tokstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                       count(*) AS n_distinct, max(c) AS top_token_n
                     FROM tc GROUP BY doc_id),
        bg AS (SELECT doc_id, tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
               FROM tok),
        bgstats AS (SELECT doc_id, max(c) AS top_bigram_n FROM (
                      SELECT doc_id, bigram, count(*) AS c FROM bg
                      WHERE bigram IS NOT NULL GROUP BY doc_id, bigram) t
                    GROUP BY doc_id),
        runs AS (SELECT doc_id, tok,
                   pos - row_number() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
                 FROM tok),
        rstats AS (SELECT doc_id, max(c) AS max_run FROM (
                     SELECT doc_id, count(*) AS c FROM runs GROUP BY doc_id, tok, grp) t
                   GROUP BY doc_id)
        SELECT t.doc_id, t.n_tokens, t.n_distinct, t.top_token_n,
          b.top_bigram_n, r.max_run,
          (r.max_run <= 2 AND t.top_token_n * 6 <= t.n_tokens
           AND b.top_bigram_n * 12 <= t.n_tokens - 1) AS rep_ok
        FROM tokstats t
        JOIN bgstats b ON t.doc_id = b.doc_id
        JOIN rstats r ON t.doc_id = r.doc_id
        ORDER BY t.doc_id""",
      "t15_length_hist" -> """
        SELECT bin, bin * 200 AS bin_lo, count(*) AS n_docs FROM (
          SELECT CAST(floor(n_chars / 200.0) AS BIGINT) AS bin FROM documents) t
        GROUP BY bin ORDER BY bin""",
      "t14_hash_split" -> """
        SELECT doc_id, source,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
          CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
               ELSE 'test' END AS split
        FROM documents ORDER BY doc_id""",
      "t18_stratified_sample" -> """
        SELECT doc_id, lang, source,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        FROM documents
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 <
          CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 50 WHEN 'fr' THEN 50
                    WHEN 'es' THEN 75 ELSE 100 END
        ORDER BY doc_id""",
      "t19_novelty" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)) AS s
               FROM tk),
        e AS (SELECT doc_id, unnest(s) AS shash FROM sh),
        df AS (SELECT shash, count(*) AS df FROM e GROUP BY shash)
        SELECT e.doc_id, count(*) AS n_shingles,
          CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novel_frac
        FROM e JOIN df ON e.shash = df.shash
        GROUP BY e.doc_id ORDER BY e.doc_id""",
      "t20_unigram_nll" -> """
        WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term
                     FROM documents),
        tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM tf),
        dt AS (SELECT doc_id, term, count(*) AS n_dt FROM tok GROUP BY doc_id, term),
        c AS (SELECT dt.doc_id, dt.term, dt.n_dt,
                -CAST(dt.n_dt AS DOUBLE) * ln(CAST(tf.cnt AS DOUBLE) / tot.total_tokens)
                  AS contrib
              FROM dt JOIN tf ON dt.term = tf.term CROSS JOIN tot)
        SELECT doc_id, CAST(sum(n_dt) AS BIGINT) AS n_tokens,
          list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS nll,
          list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
            / CAST(sum(n_dt) AS BIGINT) AS avg_nll
        FROM c GROUP BY doc_id ORDER BY doc_id""",
      "t26_bigram_nll" -> """
        WITH tk AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1])) AS bigram FROM tk),
        cb AS (SELECT bigram, count(*) AS cnt_bg FROM bg GROUP BY bigram),
        cf AS (SELECT split_part(bigram, ' ', 1) AS w1,
                 CAST(sum(cnt_bg) AS BIGINT) AS cnt_w1 FROM cb GROUP BY 1),
        v AS (SELECT count(DISTINCT term) AS vocab FROM
                (SELECT unnest(regexp_split_to_array(text, '\s+')) AS term FROM documents) q),
        db AS (SELECT doc_id, bigram, count(*) AS n_db FROM bg GROUP BY doc_id, bigram),
        c AS (SELECT db.doc_id, db.bigram, db.n_db,
                -CAST(db.n_db AS DOUBLE) *
                  ln(CAST(cb.cnt_bg + 1 AS DOUBLE) / CAST(cf.cnt_w1 + v.vocab AS DOUBLE))
                  AS contrib
              FROM db JOIN cb ON db.bigram = cb.bigram
                      JOIN cf ON split_part(db.bigram, ' ', 1) = cf.w1
                      CROSS JOIN v)
        SELECT doc_id, CAST(sum(n_db) AS BIGINT) AS n_bigrams,
          list_reduce(list(contrib ORDER BY bigram), (a, b) -> a + b) AS nll,
          list_reduce(list(contrib ORDER BY bigram), (a, b) -> a + b)
            / CAST(sum(n_db) AS BIGINT) AS avg_nll
        FROM c GROUP BY doc_id ORDER BY doc_id""",
      "t27_mixture_plan" -> """
        WITH ns AS (SELECT source,
                      CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS n_s
                    FROM documents GROUP BY source),
        w AS (SELECT source, n_s,
                200000 + 100000 * (CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 5) AS ppm
              FROM ns),
        m AS (SELECT source, n_s, ppm, n_s * 1000000 // ppm AS max_t FROM w),
        b AS (SELECT min(max_t) AS t_budget FROM m)
        SELECT source, n_s AS n_tokens, ppm,
          ppm * t_budget // 1000000 AS keep_tokens,
          max_t = t_budget AS is_binding,
          CAST(ppm * t_budget // 1000000 AS DOUBLE) / CAST(n_s AS DOUBLE) AS utilization
        FROM m CROSS JOIN b ORDER BY source""",
      "t21_sequence_pack" -> """
        WITH t AS (SELECT source, doc_id,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
                     CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
                   FROM documents),
        c AS (SELECT source, shard, doc_id, n_tokens,
                COALESCE(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              FROM t)
        SELECT source, shard, CAST(cum_before // 256 AS BIGINT) AS seq_id,
          count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
          min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM c GROUP BY 1, 2, 3 ORDER BY source, shard, seq_id""",
      // t22/t24: the segmented fold — 256 md5 term segments, term order
      // within a segment, segment order across segment sums; the same
      // fixed association order the Spark side pins, with buffers
      // bounded by the segment width instead of the source vocabulary.
      "t22_source_divergence" -> """
        WITH tok AS (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS term
                     FROM documents),
        st AS (SELECT source, term, count(*) AS c_st FROM tok GROUP BY 1, 2),
        tf AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY term),
        ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
        tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_total FROM tf),
        c AS (SELECT st.source, st.term, st.c_st,
                CAST(('0x' || substr(md5(st.term), 1, 2)) AS BIGINT) AS seg,
                (CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE)) *
                  ln((CAST(st.c_st AS DOUBLE) * CAST(tot.n_total AS DOUBLE)) /
                     (CAST(ns.n_s AS DOUBLE) * CAST(tf.c_t AS DOUBLE))) AS contrib
              FROM st JOIN tf ON st.term = tf.term
                      JOIN ns ON st.source = ns.source CROSS JOIN tot),
        segs AS (SELECT source, seg, count(*) AS n_terms_seg,
                   CAST(sum(c_st) AS BIGINT) AS n_tokens_seg,
                   list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS f_seg
                 FROM c GROUP BY source, seg)
        SELECT source, CAST(sum(n_terms_seg) AS BIGINT) AS n_terms,
          CAST(sum(n_tokens_seg) AS BIGINT) AS n_tokens,
          list_reduce(list(f_seg ORDER BY seg), (a, b) -> a + b) AS kl
        FROM segs GROUP BY source ORDER BY source""",
      "t23_temp_resample" -> """
        WITH d AS (SELECT source, doc_id,
                     CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 1000000 AS bucket
                   FROM documents),
        ns AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_s FROM d GROUP BY source),
        mn AS (SELECT min(n_s) AS n_min FROM ns),
        r AS (SELECT source, sqrt(CAST(n_min AS DOUBLE) / CAST(n_s AS DOUBLE)) AS rate
              FROM ns CROSS JOIN mn)
        SELECT d.source, d.doc_id, d.n_tokens, r.rate
        FROM d JOIN r ON d.source = r.source
        WHERE CAST(d.bucket AS DOUBLE) < r.rate * 1000000.0
        ORDER BY d.doc_id""",
      // t42: t24's segmented entropy fold, then libm exp.
      "t42_effective_vocab" -> """
        WITH tok AS (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS term
                     FROM documents),
        st AS (SELECT source, term, count(*) AS c_st FROM tok GROUP BY 1, 2),
        ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
        c AS (SELECT st.source, st.term, st.c_st,
                CAST(('0x' || substr(md5(st.term), 1, 2)) AS BIGINT) AS seg,
                -((CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE)) *
                  ln(CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE))) AS contrib
              FROM st JOIN ns ON st.source = ns.source),
        segs AS (SELECT source, seg, count(*) AS n_terms_seg,
                   list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS f_seg
                 FROM c GROUP BY source, seg),
        f AS (SELECT source, CAST(sum(n_terms_seg) AS BIGINT) AS vocab,
                list_reduce(list(f_seg ORDER BY seg), (a, b) -> a + b) AS entropy
              FROM segs GROUP BY source)
        SELECT source, vocab, entropy,
          exp(entropy) AS eff_vocab,
          exp(entropy) / CAST(vocab AS DOUBLE) AS eff_frac
        FROM f ORDER BY source""",
      "t43_bpe_merges" -> TextOps.bpeOracle(20),
      "t44_bpe_segmentation" -> TextOps.bpeSegOracle(20),
      "t46_bpe_efficiency" -> TextOps.bpeEffOracle(20),
      // t45: integer-log decomposition H = ln n - (sum c*ln c)/n —
      // logs take INTEGER counts only (verified divergence-free for
      // this corpus; the p=c/n fraction form hits a Java-vs-libm 1-ulp
      // input). Empty-string filter pins both engines' split.
      // t48: the d04 pair CTEs + the t14 bucket rule; pair sides
      // ordered by split precedence (train < val < test).
      "t48_split_leakage" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)) AS s
               FROM tk),
        e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shash FROM sh),
        pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM e a JOIN e b ON a.shash = b.shash AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id
               HAVING CAST(count(*) AS DOUBLE)
                 / (any_value(a.ns) + any_value(b.ns) - count(*)) >= 0.3),
        sp AS (SELECT doc_id,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 0
                      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 1
                      ELSE 2 END AS rk
               FROM documents),
        lab AS (SELECT
                  CASE WHEN sa.rk <= sb.rk THEN sa.split ELSE sb.split END AS split_lo,
                  CASE WHEN sa.rk <= sb.rk THEN sb.split ELSE sa.split END AS split_hi,
                  CASE WHEN sa.rk <= sb.rk THEN pr.doc_a ELSE pr.doc_b END AS doc_lo,
                  CASE WHEN sa.rk <= sb.rk THEN pr.doc_b ELSE pr.doc_a END AS doc_hi
                FROM pr
                JOIN sp sa ON sa.doc_id = pr.doc_a
                JOIN sp sb ON sb.doc_id = pr.doc_b)
        SELECT split_lo, split_hi, count(*) AS n_pairs,
          count(DISTINCT doc_lo) AS n_docs_lo,
          count(DISTINCT doc_hi) AS n_docs_hi
        FROM lab GROUP BY 1, 2 ORDER BY split_lo, split_hi""",
      // t50: t48's gram CTE + the t14 split; seen via LEFT JOIN
      // against the distinct train gram set; one exact-int divide.
      // t53: complete 50-token windows; the window mean algebraizes
      // to sum_distinct / (50 * n_windows) — one exact-int divide.
      "t53_mattr" -> """
        WITH arr AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
                     FROM documents),
        tok AS (SELECT doc_id, (pos - 1) // 50 AS win, a[pos] AS tok
                FROM arr, LATERAL (SELECT unnest(generate_series(1, len(a))) AS pos) p),
        wins AS (SELECT doc_id, win, count(*) AS n_in_win,
                   CAST(count(DISTINCT tok) AS BIGINT) AS d_w
                 FROM tok GROUP BY doc_id, win
                 HAVING count(*) = 50)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
          CAST(sum(d_w) AS BIGINT) AS sum_distinct,
          CAST(sum(d_w) AS DOUBLE) / CAST(count(*) * 50 AS DOUBLE) AS mattr
        FROM wins GROUP BY doc_id ORDER BY doc_id""",
      // t52: chi-square with every cell term (N·O−R·C)²/(N·R·C) on
      // exact ints, folded in (lang, source) order.
      "t52_lang_source_chi2" -> """
        WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS o
                       FROM documents GROUP BY lang, source),
        r AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY lang),
        c AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY source),
        t AS (SELECT (SELECT CAST(sum(o) AS BIGINT) FROM cells) AS n_docs,
                (SELECT CAST(count(*) AS BIGINT) FROM r) AS n_langs,
                (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_sources),
        terms AS (SELECT cells.lang, cells.source,
                    CAST((t.n_docs * cells.o - r.r * c.c)
                         * (t.n_docs * cells.o - r.r * c.c) AS DOUBLE)
                      / CAST(t.n_docs * r.r * c.c AS DOUBLE) AS term
                  FROM cells JOIN r USING (lang) JOIN c USING (source)
                  CROSS JOIN t)
        SELECT t.n_docs, t.n_langs, t.n_sources,
          (SELECT CAST(count(*) AS BIGINT) FROM terms) AS n_cells,
          (SELECT list_reduce(list(term ORDER BY lang, source), (a, x) -> a + x)
           FROM terms) AS chi2,
          (t.n_langs - 1) * (t.n_sources - 1) AS df
        FROM t""",
      // t51: Gopher dup-n-gram char fractions; the three gram sizes
      // come from one lead() window, duplicate chars are exact ints,
      // verdict cross-multiplied (0.20 = 1/5, 0.18 = 9/50, 0.16 = 4/25).
      "t51_gopher_rules" -> """
        WITH arr AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
                     FROM documents),
        tok AS (SELECT doc_id, pos, a[pos] AS tok
                FROM arr, LATERAL (SELECT unnest(generate_series(1, len(a))) AS pos) p),
        tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  CAST(sum(length(tok)) + count(*) - 1 AS BIGINT) AS total_chars
                FROM tok GROUP BY doc_id),
        led AS (SELECT doc_id, tok,
                  lead(tok, 1) OVER w AS t1, lead(tok, 2) OVER w AS t2,
                  lead(tok, 3) OVER w AS t3
                FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        grams AS (
          SELECT doc_id, 2 AS n, tok || ' ' || t1 AS g FROM led WHERE t1 IS NOT NULL
          UNION ALL
          SELECT doc_id, 3, tok || ' ' || t1 || ' ' || t2 FROM led WHERE t2 IS NOT NULL
          UNION ALL
          SELECT doc_id, 4, tok || ' ' || t1 || ' ' || t2 || ' ' || t3 FROM led
          WHERE t3 IS NOT NULL),
        gc AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY doc_id, n, g),
        dup AS (SELECT doc_id,
                  CAST(coalesce(sum(CASE WHEN n = 2 AND c >= 2 THEN c * length(g) END), 0) AS BIGINT) AS dup2_chars,
                  CAST(coalesce(sum(CASE WHEN n = 3 AND c >= 2 THEN c * length(g) END), 0) AS BIGINT) AS dup3_chars,
                  CAST(coalesce(sum(CASE WHEN n = 4 AND c >= 2 THEN c * length(g) END), 0) AS BIGINT) AS dup4_chars
                FROM gc GROUP BY doc_id)
        SELECT t.doc_id, t.n_tokens, t.total_chars,
          coalesce(d.dup2_chars, 0) AS dup2_chars,
          coalesce(d.dup3_chars, 0) AS dup3_chars,
          coalesce(d.dup4_chars, 0) AS dup4_chars,
          CASE WHEN t.total_chars > 0 THEN CAST(coalesce(d.dup2_chars, 0) AS DOUBLE) / CAST(t.total_chars AS DOUBLE) END AS frac2,
          CASE WHEN t.total_chars > 0 THEN CAST(coalesce(d.dup3_chars, 0) AS DOUBLE) / CAST(t.total_chars AS DOUBLE) END AS frac3,
          CASE WHEN t.total_chars > 0 THEN CAST(coalesce(d.dup4_chars, 0) AS DOUBLE) / CAST(t.total_chars AS DOUBLE) END AS frac4,
          (coalesce(d.dup2_chars, 0) * 5 <= t.total_chars
           AND coalesce(d.dup3_chars, 0) * 50 <= t.total_chars * 9
           AND coalesce(d.dup4_chars, 0) * 25 <= t.total_chars * 4) AS gopher_ok
        FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id
        ORDER BY t.doc_id""",
      // t54: the JM replay — the same integer num/den decomposition
      // per bigram (ln over exact-integer doubles only), the (w1, w2)
      // fold, and the quantized-cell lower median (rank ceil(n/2) via
      // 2·cum ≥ n over the cell histogram — exact integers, matching
      // the engine's bounded-histogram bar bit for bit).
      // t55: the A-ES key in log space — ln over integers only,
      // one divide, rank ties on doc_id.
      "t55_weighted_sample" -> """
        WITH d AS (SELECT source, doc_id,
                     CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hseed
                   FROM documents),
        k AS (SELECT source, doc_id, n_tokens,
                (ln(CAST(hseed + 1 AS DOUBLE)) - ln(4294967296.0))
                  / CAST(n_tokens AS DOUBLE) AS es_key
              FROM d),
        r AS (SELECT source, doc_id, n_tokens, es_key,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY es_key DESC, doc_id) AS BIGINT) AS sel_rank
              FROM k)
        SELECT source, sel_rank, doc_id, n_tokens, es_key
        FROM r WHERE sel_rank <= 20
        ORDER BY source, sel_rank""",
      "t54_jm_quality_filter" -> ("""
        WITH """ + graft.ops.TextOps.jmScoreReplaySql + """
        SELECT doc_id, n_bigrams, n_oov, avg_nll,
          q_nll <= md.bar_cell AS keep
        FROM qd CROSS JOIN md
        ORDER BY doc_id"""),
      "t50_memorization_rate" -> """
        WITH tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                      t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
                    FROM documents),
        sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647))) AS shash
               FROM tk),
        sp AS (SELECT doc_id,
                 CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
                      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
               FROM documents),
        ws AS (SELECT sh.doc_id, sh.shash, sp.split FROM sh JOIN sp ON sh.doc_id = sp.doc_id),
        tg AS (SELECT DISTINCT shash, 1 AS seen FROM ws WHERE split = 'train')
        SELECT ws.doc_id, ws.split,
          count(*) AS n_grams,
          CAST(sum(COALESCE(tg.seen, 0)) AS BIGINT) AS n_seen,
          CAST(CAST(sum(COALESCE(tg.seen, 0)) AS BIGINT) AS DOUBLE)
            / CAST(count(*) AS DOUBLE) AS seen_frac
        FROM ws LEFT JOIN tg ON ws.shash = tg.shash
        WHERE ws.split <> 'train'
        GROUP BY ws.doc_id, ws.split ORDER BY ws.doc_id""",
      // t49: every ln argument is an integer-valued double; the
      // per-doc fold runs in bucket order (list ORDER BY bucket); the
      // totals correction is the same sub/mul/add chain as Spark's.
      // t49: the DSIR chain is the shared TextOps.dsirReplaySql val
      // (x-prefixed CTEs; c02 composes the same chain).
      "t49_dsir_weights" -> ("""
        WITH """ + graft.ops.TextOps.dsirReplaySql + """
        SELECT doc_id, n_grams,
          feat_term + CAST(n_grams AS DOUBLE) *
            (ln(CAST(xtots.n_raw + 64 AS DOUBLE)) - ln(CAST(xtots.n_tgt + 64 AS DOUBLE)))
            AS logw,
          (feat_term + CAST(n_grams AS DOUBLE) *
            (ln(CAST(xtots.n_raw + 64 AS DOUBLE)) - ln(CAST(xtots.n_tgt + 64 AS DOUBLE))))
            > 0.0 AS selected
        FROM xf CROSS JOIN xtots ORDER BY doc_id"""),
      // t47: same counts, same left-associated double expression; the
      // literals cast to DOUBLE explicitly (DuckDB parses bare 1.015
      // as DECIMAL, whose arithmetic rounds differently).
      "t47_readability" -> """
        WITH c AS (
          SELECT doc_id,
            greatest(1, length(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
            length(regexp_split_to_array(text, '\s+')) AS n_words,
            list_sum(list_transform(regexp_split_to_array(lower(text), '\s+'),
              w -> greatest(1, length(regexp_extract_all(w, '[aeiouy]+'))))) AS n_syllables
          FROM documents)
        SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
          CAST(n_words AS BIGINT) AS n_words,
          CAST(n_syllables AS BIGINT) AS n_syllables,
          CAST(206.835 AS DOUBLE)
            - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
            - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
            AS flesch
        FROM c ORDER BY doc_id""",
      "t45_char_entropy" -> """
        WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '')) AS term
                     FROM documents),
        st AS (SELECT doc_id, term, count(*) AS c_st FROM tok
               WHERE term <> '' GROUP BY 1, 2),
        c AS (SELECT doc_id, term, c_st,
                CAST(('0x' || substr(md5(term), 1, 2)) AS BIGINT) AS seg,
                CAST(c_st AS DOUBLE) * ln(CAST(c_st AS DOUBLE)) AS contrib
              FROM st),
        segs AS (SELECT doc_id, seg, count(*) AS n_chars_seg,
                   CAST(sum(c_st) AS BIGINT) AS n_total_seg,
                   list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS f_seg
                 FROM c GROUP BY doc_id, seg),
        agg AS (SELECT doc_id, CAST(sum(n_chars_seg) AS BIGINT) AS charset,
                  CAST(sum(n_total_seg) AS BIGINT) AS n_chars,
                  list_reduce(list(f_seg ORDER BY seg), (a, b) -> a + b) AS s_clnc
                FROM segs GROUP BY doc_id)
        SELECT doc_id, charset, n_chars,
          ln(CAST(n_chars AS DOUBLE)) - s_clnc / CAST(n_chars AS DOUBLE) AS entropy,
          CASE WHEN charset > 1
               THEN (ln(CAST(n_chars AS DOUBLE)) - s_clnc / CAST(n_chars AS DOUBLE))
                 / ln(CAST(charset AS DOUBLE))
               ELSE 0.0 END AS norm_entropy
        FROM agg ORDER BY doc_id""",
      "t24_source_entropy" -> """
        WITH tok AS (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS term
                     FROM documents),
        st AS (SELECT source, term, count(*) AS c_st FROM tok GROUP BY 1, 2),
        ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
        c AS (SELECT st.source, st.term, st.c_st,
                CAST(('0x' || substr(md5(st.term), 1, 2)) AS BIGINT) AS seg,
                -((CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE)) *
                  ln(CAST(st.c_st AS DOUBLE) / CAST(ns.n_s AS DOUBLE))) AS contrib
              FROM st JOIN ns ON st.source = ns.source),
        segs AS (SELECT source, seg, count(*) AS n_terms_seg,
                   CAST(sum(c_st) AS BIGINT) AS n_tokens_seg,
                   list_reduce(list(contrib ORDER BY term), (a, b) -> a + b) AS f_seg
                 FROM c GROUP BY source, seg)
        SELECT source, CAST(sum(n_terms_seg) AS BIGINT) AS vocab,
          CAST(sum(n_tokens_seg) AS BIGINT) AS n_tokens,
          list_reduce(list(f_seg ORDER BY seg), (a, b) -> a + b) AS entropy,
          list_reduce(list(f_seg ORDER BY seg), (a, b) -> a + b)
            / ln(CAST(sum(n_terms_seg) AS DOUBLE)) AS norm_entropy
        FROM segs GROUP BY source ORDER BY source""",
      // t28: token first-occurrence assigns each type to one doc-id
      // decile ((doc_id*10)//n all-BIGINT floor division, t27 class);
      // cumulative sums run over the ten decile rows.
      "t28_vocab_growth" -> """
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        dd AS (SELECT (d.doc_id * 10) // n.n_docs AS b, count(*) AS nd,
                 CAST(sum(len(regexp_split_to_array(d.text, '\s+'))) AS BIGINT) AS nt
               FROM documents d, n GROUP BY 1),
        fo AS (SELECT term, min(doc_id) AS first_doc FROM (
                 SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term
                 FROM documents) t GROUP BY term),
        td AS (SELECT (fo.first_doc * 10) // n.n_docs AS b, count(*) AS nv
               FROM fo, n GROUP BY 1)
        SELECT dd.b + 1 AS decile,
          CAST(sum(dd.nd) OVER (ORDER BY dd.b) AS BIGINT) AS cum_docs,
          CAST(sum(dd.nt) OVER (ORDER BY dd.b) AS BIGINT) AS cum_tokens,
          CAST(sum(coalesce(td.nv, 0)) OVER (ORDER BY dd.b) AS BIGINT) AS cum_vocab,
          CAST(sum(coalesce(td.nv, 0)) OVER (ORDER BY dd.b) AS DOUBLE)
            / CAST(sum(dd.nt) OVER (ORDER BY dd.b) AS DOUBLE) AS ttr
        FROM dd LEFT JOIN td ON td.b = dd.b ORDER BY decile""",
      // t30: count-of-counts over the term-frequency table; r* defined
      // only where the next spectrum row is exactly r+1 (NULL at gaps
      // and the max band, mirroring the Spark side).
      "t30_freq_spectrum" -> """
        WITH tf AS (SELECT term, count(*) AS r FROM (
               SELECT unnest(regexp_split_to_array(text, '\s+')) AS term
               FROM documents) t GROUP BY term),
        sp AS (SELECT r, count(*) AS n_terms FROM tf GROUP BY r),
        led AS (SELECT r, n_terms,
                  lead(r) OVER (ORDER BY r) AS next_r,
                  lead(n_terms) OVER (ORDER BY r) AS next_n
                FROM sp)
        SELECT CAST(r AS BIGINT) AS r, CAST(n_terms AS BIGINT) AS n_terms,
          CASE WHEN next_r = r + 1
               THEN CAST((r + 1) * next_n AS DOUBLE) / CAST(n_terms AS DOUBLE)
          END AS r_star
        FROM led ORDER BY r""",
      // t29: distinct (source, term) self-joined on term — fan-out
      // structurally bounded by |sources|² per term.
      "t29_source_jaccard" -> """
        WITH st AS (SELECT DISTINCT source, term FROM (
               SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS term
               FROM documents) t),
        sz AS (SELECT source, count(*) AS n_terms FROM st GROUP BY source),
        inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
                  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
                  GROUP BY 1, 2)
        SELECT i.src_a, i.src_b,
          CAST(za.n_terms AS BIGINT) AS n_a, CAST(zb.n_terms AS BIGINT) AS n_b,
          CAST(i.n_common AS BIGINT) AS n_common,
          CAST(i.n_common AS DOUBLE)
            / CAST(za.n_terms + zb.n_terms - i.n_common AS DOUBLE) AS jaccard
        FROM inter i JOIN sz za ON za.source = i.src_a
        JOIN sz zb ON zb.source = i.src_b
        ORDER BY src_a, src_b""",
      // t32: the t04 fingerprint + d04 shingle-pair + t25 quality +
      // t16 gram-contamination pieces composed as boolean gate columns
      // over one doc table, aggregated per source.
      "t32_curation_funnel" -> """
        WITH base AS (SELECT source, doc_id, regexp_split_to_array(text, '\s+') AS t
                      FROM documents),
        d AS (SELECT source, doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality,
                md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
              FROM base),
        canon AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY fp),
        tk AS (SELECT doc_id, list_transform(regexp_split_to_array(text, '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th
               FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
                 i -> ((th[i] * 31 + th[i+1]) % 2147483647 * 31 + th[i+2]) % 2147483647)) AS s
               FROM tk),
        e AS (SELECT doc_id, len(s) AS ns, unnest(s) AS shash FROM sh),
        juniors AS (SELECT DISTINCT doc_b AS doc_id FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM e a JOIN e b ON a.shash = b.shash AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING CAST(count(*) AS DOUBLE)
            / (any_value(a.ns) + any_value(b.ns) - count(*)) >= 0.3) p),
        grams AS (SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, len(th) - 3),
                    i -> ((((((th[i]) * 31 + th[i+1]) % 2147483647) * 31 + th[i+2]) % 2147483647) * 31 + th[i+3]) % 2147483647)) AS gs
                  FROM tk WHERE len(th) >= 4),
        bg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 0),
        dirty AS (SELECT DISTINCT doc_id FROM
                    (SELECT doc_id, unnest(gs) AS g FROM grams
                     WHERE doc_id % 97 <> 0) c
                  JOIN bg ON c.g = bg.g),
        staged AS (SELECT d.source, d.doc_id, d.n_tokens,
          (cn.doc_id IS NOT NULL) AS exact_ok,
          (cn.doc_id IS NOT NULL AND j.doc_id IS NULL) AS near_ok,
          (cn.doc_id IS NOT NULL AND j.doc_id IS NULL AND d.quality >= 0.8) AS quality_ok,
          (cn.doc_id IS NOT NULL AND j.doc_id IS NULL AND d.quality >= 0.8
           AND d.doc_id % 97 <> 0 AND dt.doc_id IS NULL) AS clean_ok
          FROM d LEFT JOIN canon cn ON cn.doc_id = d.doc_id
                 LEFT JOIN juniors j ON j.doc_id = d.doc_id
                 LEFT JOIN dirty dt ON dt.doc_id = d.doc_id)
        SELECT source, count(*) AS n_docs,
          CAST(sum(CASE WHEN exact_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
          CAST(sum(CASE WHEN near_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
          CAST(sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
          CAST(sum(CASE WHEN clean_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
          CAST(sum(CASE WHEN clean_ok THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
        FROM staged GROUP BY source ORDER BY source""",
      // t31: the exact ntile manifest is the oracle-checkable arm; the
      // sketch-phase agreement gate is engine-specific and surfaces as
      // the all-true agree_ok boolean (t07/q23 tolerance discipline).
      "t31_curriculum_sketch" -> """
        WITH x AS (SELECT source, doc_id, regexp_split_to_array(text, '\s+') AS t
                   FROM documents),
        q AS (SELECT source, doc_id,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality,
                CAST(len(t) AS BIGINT) AS n_tokens
              FROM x),
        ph AS (SELECT source, doc_id, quality, n_tokens,
                 ntile(4) OVER (PARTITION BY source
                   ORDER BY quality, doc_id) AS phase
               FROM q)
        SELECT source, CAST(phase AS BIGINT) AS phase, count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS phase_tokens, TRUE AS agree_ok
        FROM ph GROUP BY source, phase ORDER BY source, phase""",
      // t35: t20's NLL CTEs verbatim + the quantized-cell quartile
      // bars (4·cum ≥ k·n over the per-source quality-cell histogram)
      // and the grouped quantized lower median (2·cum ≥ n), both the
      // t54 convention — med ships as the bar CELL (BIGINT).
      // t36: PMI ranking without log — both products in BIGINT, one
      // exact double divide; the c_ab ≥ 5 floor in HAVING matches the
      // Spark-side pre-join filter.
      // t40: t03's prediction CTE reduced to the confusion matrix.
      "t40_langid_confusion" -> """
        WITH x AS (SELECT lang, regexp_split_to_array(text, '\s+') AS t
                   FROM documents),
        p AS (SELECT lang AS declared_lang,
                CASE WHEN CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE)
                       / len(t) >= 0.04
                     THEN 'en' ELSE 'unk' END AS pred_lang
              FROM x),
        m AS (SELECT declared_lang, pred_lang, count(*) AS n_docs
              FROM p GROUP BY 1, 2)
        SELECT declared_lang, pred_lang, n_docs,
          CAST(sum(n_docs) OVER (PARTITION BY declared_lang) AS BIGINT)
            AS declared_total,
          CAST(n_docs AS DOUBLE)
            / CAST(sum(n_docs) OVER (PARTITION BY declared_lang) AS DOUBLE)
            AS row_share
        FROM m ORDER BY declared_lang, pred_lang""",
      // t39: t28's decile CTE feeding the same list_reduce fold as t38.
      "t39_heaps_fit" -> """
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        dd AS (SELECT (d.doc_id * 10) // n.n_docs AS b, count(*) AS nd,
                 CAST(sum(len(regexp_split_to_array(d.text, '\s+'))) AS BIGINT) AS nt
               FROM documents d, n GROUP BY 1),
        fo AS (SELECT term, min(doc_id) AS first_doc FROM (
                 SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term
                 FROM documents) t GROUP BY term),
        td AS (SELECT (fo.first_doc * 10) // n.n_docs AS b, count(*) AS nv
               FROM fo, n GROUP BY 1),
        g AS (SELECT dd.b + 1 AS decile,
                CAST(sum(dd.nt) OVER (ORDER BY dd.b) AS BIGINT) AS cum_tokens,
                CAST(sum(coalesce(td.nv, 0)) OVER (ORDER BY dd.b) AS BIGINT) AS cum_vocab
              FROM dd LEFT JOIN td ON td.b = dd.b),
        f AS (
          SELECT CAST(count(*) AS DOUBLE) AS np,
            list_reduce(list(ln(CAST(cum_tokens AS DOUBLE)) ORDER BY decile),
                        (a, b) -> a + b) AS sx,
            list_reduce(list(ln(CAST(cum_vocab AS DOUBLE)) ORDER BY decile),
                        (a, b) -> a + b) AS sy,
            list_reduce(list(ln(CAST(cum_tokens AS DOUBLE))
                             * ln(CAST(cum_vocab AS DOUBLE)) ORDER BY decile),
                        (a, b) -> a + b) AS sxy,
            list_reduce(list(ln(CAST(cum_tokens AS DOUBLE))
                             * ln(CAST(cum_tokens AS DOUBLE)) ORDER BY decile),
                        (a, b) -> a + b) AS sxx
          FROM g)
        SELECT CAST(np AS BIGINT) AS n_pts,
          (np * sxy - sx * sy) / (np * sxx - sx * sx) AS slope,
          (sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx) / np
            AS intercept
        FROM f""",
      // t38: list_reduce replays the left fold over the rank-ordered
      // point list; a seedless fold equals Spark's 0.0-seeded one
      // because 0.0 + x == x exactly.
      "t38_zipf_slope" -> """
        WITH tc AS (SELECT unnest(regexp_split_to_array(text, '\s+')) AS term
                    FROM documents),
        tn AS (SELECT term, count(*) AS n FROM tc GROUP BY term),
        top AS (SELECT term, n FROM tn ORDER BY n DESC, term LIMIT 50),
        ranked AS (SELECT n, row_number() OVER (ORDER BY n DESC, term) AS r
                   FROM top),
        f AS (
          SELECT CAST(count(*) AS DOUBLE) AS np,
            list_reduce(list(ln(CAST(r AS DOUBLE)) ORDER BY r),
                        (a, b) -> a + b) AS sx,
            list_reduce(list(ln(CAST(n AS DOUBLE)) ORDER BY r),
                        (a, b) -> a + b) AS sy,
            list_reduce(list(ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE))
                             ORDER BY r),
                        (a, b) -> a + b) AS sxy,
            list_reduce(list(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                             ORDER BY r),
                        (a, b) -> a + b) AS sxx
          FROM ranked)
        SELECT CAST(np AS BIGINT) AS n_pts,
          (np * sxy - sx * sy) / (np * sxx - sx * sx) AS slope,
          (sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx) / np
            AS intercept
        FROM f""",
      // t37: mirrors bm25Rank expression for expression — exact long
      // sums for dl/df, one avgdl divide, literal 2.2/1.2/0.75, and
      // the three contributions added in fixed order (ln is libm on
      // both sides — the platform_ln contract).
      "t37_bm25" -> """
        WITH base AS (
          SELECT doc_id,
            len(regexp_split_to_array(text, '\s+')) AS dl,
            len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'hash')) AS tf_hash,
            len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'join')) AS tf_join,
            len(list_filter(regexp_split_to_array(text, '\s+'), x -> x = 'stream')) AS tf_stream
          FROM documents),
        st AS (
          SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
            sum(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
            sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
            sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS df_stream
          FROM base),
        sc AS (
          SELECT b.doc_id, b.tf_hash, b.tf_join, b.tf_stream, b.dl,
            ln((CAST(n_docs AS DOUBLE) - CAST(df_hash AS DOUBLE) + 0.5)
               / (CAST(df_hash AS DOUBLE) + 0.5) + 1.0)
              * CAST(b.tf_hash AS DOUBLE) * 2.2
              / (CAST(b.tf_hash AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
                 * (CAST(b.dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
            + ln((CAST(n_docs AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5)
               / (CAST(df_join AS DOUBLE) + 0.5) + 1.0)
              * CAST(b.tf_join AS DOUBLE) * 2.2
              / (CAST(b.tf_join AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
                 * (CAST(b.dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
            + ln((CAST(n_docs AS DOUBLE) - CAST(df_stream AS DOUBLE) + 0.5)
               / (CAST(df_stream AS DOUBLE) + 0.5) + 1.0)
              * CAST(b.tf_stream AS DOUBLE) * 2.2
              / (CAST(b.tf_stream AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
                 * (CAST(b.dl AS DOUBLE)
                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
            AS score
          FROM base b CROSS JOIN st)
        SELECT * FROM (
          SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
            doc_id, tf_hash, tf_join, tf_stream, dl, score
          FROM sc) t
        WHERE rank <= 10 ORDER BY rank""",
      "t36_pmi_collocations" -> """
        WITH tk AS (SELECT regexp_split_to_array(text, '\s+') AS t FROM documents),
        uc AS (SELECT term, count(*) AS c FROM (
                 SELECT unnest(t) AS term FROM tk) u GROUP BY term),
        bg AS (SELECT t[i] AS w1, t[i+1] AS w2
               FROM tk, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)),
        bc AS (SELECT w1, w2, count(*) AS c_ab FROM bg GROUP BY w1, w2
               HAVING count(*) >= 5),
        n AS (SELECT CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS n_big FROM tk)
        SELECT b.w1 || ' ' || b.w2 AS bigram, b.c_ab, a.c AS c_a, d.c AS c_b,
          CAST(b.c_ab * n.n_big AS DOUBLE) / CAST(a.c * d.c AS DOUBLE) AS pmi_ratio
        FROM bc b
        JOIN uc a ON b.w1 = a.term
        JOIN uc d ON b.w2 = d.term
        CROSS JOIN n
        ORDER BY pmi_ratio DESC, bigram LIMIT 20""",
      "t35_quality_calibration" -> """
        WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS term
                     FROM documents),
        tf AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM tf),
        dt AS (SELECT doc_id, term, count(*) AS n_dt FROM tok GROUP BY doc_id, term),
        c AS (SELECT dt.doc_id, dt.term, dt.n_dt,
                -CAST(dt.n_dt AS DOUBLE) * ln(CAST(tf.cnt AS DOUBLE) / tot.total_tokens)
                  AS contrib
              FROM dt JOIN tf ON dt.term = tf.term CROSS JOIN tot),
        nll AS (SELECT doc_id,
                  list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
                    / CAST(sum(n_dt) AS BIGINT) AS avg_nll
                FROM c GROUP BY doc_id),
        q AS MATERIALIZED (SELECT source, doc_id, quality,
                CAST(floor(quality * 1e4) AS BIGINT) AS q_cell
              FROM (SELECT source, doc_id,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality
              FROM (SELECT source, doc_id, regexp_split_to_array(text, '\s+') AS t
                    FROM documents) x) y),
        h AS (SELECT source, q_cell, count(*) AS n_cell FROM q GROUP BY 1, 2),
        hc AS (SELECT source, q_cell,
                 sum(n_cell) OVER (PARTITION BY source ORDER BY q_cell
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(n_cell) OVER (PARTITION BY source) AS n_src
               FROM h),
        bars AS (SELECT source,
                   min(CASE WHEN 4 * cum >= n_src THEN q_cell END) AS b1,
                   min(CASE WHEN 4 * cum >= 2 * n_src THEN q_cell END) AS b2,
                   min(CASE WHEN 4 * cum >= 3 * n_src THEN q_cell END) AS b3
                 FROM hc GROUP BY source),
        dq AS MATERIALIZED (SELECT q.source, q.doc_id, q.quality,
                 CAST(1 + CAST(q.q_cell > b1 AS INTEGER)
                        + CAST(q.q_cell > b2 AS INTEGER)
                        + CAST(q.q_cell > b3 AS INTEGER) AS BIGINT) AS quartile,
                 CAST(floor(nll.avg_nll * 1e4) AS BIGINT) AS nll_cell
               FROM q JOIN bars ON q.source = bars.source
                      JOIN nll ON q.doc_id = nll.doc_id),
        h2 AS (SELECT source, quartile, nll_cell, count(*) AS n_cell
               FROM dq GROUP BY 1, 2, 3),
        hc2 AS (SELECT source, quartile, nll_cell,
                  sum(n_cell) OVER (PARTITION BY source, quartile
                    ORDER BY nll_cell ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(n_cell) OVER (PARTITION BY source, quartile) AS n_grp
                FROM h2),
        med AS (SELECT source, quartile,
                  min(CASE WHEN 2 * cum >= n_grp THEN nll_cell END) AS med_nll_cell
                FROM hc2 GROUP BY 1, 2),
        st AS (SELECT source, quartile, count(*) AS n_docs,
                 min(quality) AS q_min, max(quality) AS q_max
               FROM dq GROUP BY 1, 2)
        SELECT st.source, st.quartile, st.n_docs, st.q_min, st.q_max,
          med.med_nll_cell
        FROM st JOIN med ON st.source = med.source AND st.quartile = med.quartile
        ORDER BY st.source, st.quartile""",
      // t33: rebuild the planted-PII fixture from the doc_id formula,
      // then the same three RE2-safe regexes — counts via
      // regexp_extract_all on the original, redaction in the same
      // email -> phone -> IPv4 order with the 'g' flag.
      "t33_pii_scan" -> """
        WITH f AS (SELECT doc_id,
          text || repeat(' contact user' || CAST(doc_id AS VARCHAR)
                         || '@mail.example.com', CAST(doc_id % 3 AS INTEGER))
               || repeat(' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                         || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                         CAST(doc_id % 2 AS INTEGER))
               || ' from ' || CAST(doc_id % 223 + 1 AS VARCHAR)
               || '.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
               || '.' || CAST(doc_id % 254 + 1 AS VARCHAR) AS text
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(text,
            '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
          CAST(len(regexp_extract_all(text,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
          regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
        FROM f ORDER BY doc_id""",
      "t25_curriculum" -> """
        WITH x AS (SELECT source, doc_id, regexp_split_to_array(text, '\s+') AS t
                   FROM documents),
        q AS (SELECT source, doc_id,
                0.4 * (1.0 - CAST(len(list_filter(t, c -> c = 'a' OR c = 'the')) AS DOUBLE) / len(t))
                  + 0.3 * (CAST(len(list_distinct(t)) AS DOUBLE) / len(t))
                  + 0.3 * least(len(t) / 50.0, 1.0) AS quality,
                CAST(len(t) AS BIGINT) AS n_tokens
              FROM x),
        ph AS (SELECT source, doc_id, quality, n_tokens,
                 ntile(4) OVER (PARTITION BY source
                   ORDER BY quality, doc_id) AS phase
               FROM q)
        SELECT source, CAST(phase AS BIGINT) AS phase, count(*) AS n_docs,
          min(quality) AS q_min, max(quality) AS q_max,
          CAST(sum(n_tokens) AS BIGINT) AS phase_tokens
        FROM ph GROUP BY source, phase ORDER BY source, phase""",
      "s01_knn_brute" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
                   FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < 5)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
            list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC, e.vec_id) AS rank
          FROM q JOIN e ON e.vec_id <> q.vec_id) t
        WHERE rank <= 10 ORDER BY q_id, rank""",
      "s02_knn_bucketed" -> """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
                     (CASE WHEN embedding[1] > 0.0 THEN 1 ELSE 0 END) +
                     (CASE WHEN embedding[2] > 0.0 THEN 2 ELSE 0 END) +
                     (CASE WHEN embedding[3] > 0.0 THEN 4 ELSE 0 END) +
                     (CASE WHEN embedding[4] > 0.0 THEN 8 ELSE 0 END) AS bucket
                   FROM embeddings),
        q AS (SELECT * FROM e WHERE vec_id < 5)
        SELECT q_id, rank, vec_id, cos FROM (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
            list_dot_product(q.v, e.v) / (q.nrm * e.nrm) AS cos,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY list_dot_product(q.v, e.v) / (q.nrm * e.nrm) DESC, e.vec_id) AS rank
          FROM q JOIN e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id) t
        WHERE rank <= 5 ORDER BY q_id, rank""",
      "m01_media_meta" -> """
        SELECT doc_id,
          CASE WHEN n_chars % 3 = 0 THEN 'image'
               WHEN n_chars % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
          strlen(text) AS n_bytes,
          64 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 512 AS width,
          64 + (CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) // 512) % 512 AS height
        FROM documents ORDER BY doc_id""",
      "m02_media_stats" -> """
        WITH m AS (
          SELECT doc_id,
            CASE WHEN n_chars % 3 = 0 THEN 'image'
                 WHEN n_chars % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
            strlen(text) AS n_bytes,
            64 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 512 AS width,
            64 + (CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) // 512) % 512 AS height
          FROM documents)
        SELECT media_type, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
          max(width) AS max_width, min(height) AS min_height
        FROM m GROUP BY media_type ORDER BY media_type""",
      "m03_frame_sample" -> """
        WITH m AS (SELECT doc_id, strlen(text) AS n_bytes FROM documents
                   WHERE n_chars % 3 = 2)
        SELECT doc_id, frame_idx, frame_idx * 1000 AS byte_offset FROM (
          SELECT doc_id, unnest(generate_series(0,
            least(CAST((n_bytes - 1) // 1000 AS INTEGER), 7))) AS frame_idx
          FROM m) t
        ORDER BY doc_id, frame_idx""",
    )
  }
}
