package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Extensions => E, ExtensionOracles => EO, Inventory => I, Oracles => O, StreamingOracles => SO, StreamingQueries => SQ}

/** One declared query: its name, its builder over (session, sf dir), and
  * the DuckDB-equivalent SQL when its result is exactly reproducible
  * outside Spark (same column names, same total ORDER BY, same
  * rounding). `oracle = None` marks a rows-only query: only its row
  * count is checked outside ScalaTest, which asserts its bounds. */
final case class Declared(name: String,
                          build: (SparkSession, String) => DataFrame,
                          oracle: Option[String])

/** The query registry behind Bench, Verify, the CLI and the dev tools —
  * see SURVEY.md §7.
  *
  * [[declared]] is the one list: every implemented operator from
  * SURVEY.md §2, each named once next to its oracle. `queries` and
  * `oracleSql` are views of it.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    I.q5GroupbyAgg(spark, "/root/testdata/sf0.001")

  val declared: Seq[Declared] = Seq(
    Declared("q1_derived_key", I.q1DerivedKey(_, _), Some(O.q1DerivedKey)),
    Declared("q2_anti_join", I.q2AntiJoin(_, _), Some(O.q2AntiJoin)),
    Declared("q3_dim_join", I.q3DimJoin(_, _), Some(O.q3DimJoin)),
    Declared("q4_scalar_subquery", I.q4ScalarSubquery(_, _), Some(O.q4ScalarSubquery)),
    Declared("q5_groupby_agg", I.q5GroupbyAgg(_, _), Some(O.q5GroupbyAgg)),
    Declared("q6_distinct", I.q6Distinct(_, _), Some(O.q6Distinct)),
    Declared("q6b_distinct_values", I.q6bDistinctValues(_, _), Some(O.q6bDistinctValues)),
    Declared("q7_rollup", I.q7Rollup(_, _), Some(O.q7Rollup)),
    Declared("q8_approx_distinct", I.q8ApproxDistinct(_, _), Some(O.q8ApproxDistinct)),
    Declared("q9_window_rank", I.q9WindowRank(_, _), Some(O.q9WindowRank)),
    Declared("q10_window_frame", I.q10WindowFrame(_, _), Some(O.q10WindowFrame)),
    Declared("q11_topk", I.q11TopK(_, _), Some(O.q11TopK)),
    Declared("q12_setops", I.q12SetOps(_, _), Some(O.q12SetOps)),
    Declared("q13_semi_join", I.q13SemiJoin(_, _), Some(O.q13SemiJoin)),
    Declared("q14_range_join", I.q14RangeJoin(_, _), Some(O.q14RangeJoin)),
    Declared("q15_phone_regex", I.q15PhoneRegex(_, _), Some(O.q15PhoneRegex)),
    Declared("q16_date_json", I.q16DateJson(_, _), Some(O.q16DateJson)),
    Declared("q17_cross_join", I.q17CrossJoin(_, _), Some(O.q17CrossJoin)),
    Declared("q18_tumbling_day", I.q18TumblingDay(_, _), Some(O.q18TumblingDay)),
    Declared("q19_grouping_sets", I.q19GroupingSets(_, _), Some(O.q19GroupingSets)),
    Declared("q20_cosine_topk", I.q20CosineTopk(_, _), Some(O.q20CosineTopk)),
    Declared("q21_array_ops", I.q21ArrayOps(_, _), Some(O.q21ArrayOps)),
    Declared("q22_asof_join", I.q22AsofJoin(_, _), Some(O.q22AsofJoin)),
    Declared("q23_sessionize", I.q23Sessionize(_, _), Some(O.q23Sessionize)),
    Declared("q24_percentiles", I.q24Percentiles(_, _), Some(O.q24Percentiles)),
    Declared("q24b_approx_percentiles", I.q24bApproxPercentiles(_, _),
      Some(O.q24bApproxPercentiles)),
    Declared("q25_topk_agg", I.q25TopkAgg(_, _), Some(O.q25TopkAgg)),
    Declared("q26_cube", I.q26Cube(_, _), Some(O.q26Cube)),
    Declared("q27_pivot", I.q27Pivot(_, _), Some(O.q27Pivot)),
    Declared("q27b_unpivot", I.q27bUnpivot(_, _), Some(O.q27bUnpivot)),
    Declared("q28_window_nav", I.q28WindowNav(_, _), Some(O.q28WindowNav)),
    Declared("q29_funnel", I.q29Funnel(_, _), Some(O.q29Funnel)),
    Declared("q30_full_outer", I.q30FullOuter(_, _), Some(O.q30FullOuter)),
    Declared("q31_correlated", I.q31Correlated(_, _), Some(O.q31Correlated)),
    Declared("q32_recursive", I.q32Recursive(_, _), Some(O.q32Recursive)),
    Declared("q33_graph_walk", I.q33GraphWalk(_, _), Some(O.q33GraphWalk)),
    Declared("q34_range_frame", I.q34RangeFrame(_, _), Some(O.q34RangeFrame)),
    Declared("q35_window_distinct", I.q35WindowDistinct(_, _), Some(O.q35WindowDistinct)),
    Declared("q36_ntile", I.q36Ntile(_, _), Some(O.q36Ntile)),
    Declared("q37_gap_fill", I.q37GapFill(_, _), Some(O.q37GapFill)),
    // LLM-data-pipeline operators (BASELINE.json north star)
    Declared("dedup_exact", E.dedupExact(_, _), Some(EO.dedupExact)),
    Declared("dedup_url", E.dedupUrl(_, _), Some(EO.dedupUrl)),
    Declared("domain_quota", E.domainQuota(_, _), Some(EO.domainQuota)),
    Declared("dedup_substring", E.dedupSubstring(_, _), Some(EO.dedupSubstring)),
    Declared("text_ngrams", E.textNgrams(_, _), Some(EO.textNgrams)),
    Declared("text_pmi", E.textPmi(_, _), Some(EO.textPmi)),
    Declared("text_heavy_hitters", E.textHeavyHitters(_, _), Some(EO.textHeavyHitters)),
    Declared("events_hll_daily", E.eventsHllDaily(_, _), Some(EO.eventsHllDaily)),
    Declared("dedup_jaccard", E.dedupJaccard(_, _), Some(EO.dedupJaccard)),
    Declared("dedup_containment", E.dedupContainment(_, _), Some(EO.dedupContainment)),
    Declared("dedup_jaccard_char", E.dedupJaccardChar(_, _), Some(EO.dedupJaccardChar)),
    Declared("dedup_minhash", E.dedupMinhash(_, _), Some(EO.dedupMinhash)),
    Declared("dedup_minhash_clusters", E.dedupMinhashClusters(_, _), Some(EO.dedupMinhashClusters)),
    Declared("corpus_overlap", E.corpusOverlap(_, _), Some(EO.corpusOverlap)),
    Declared("dedup_minhash_verify", E.dedupMinhashVerify(_, _), Some(EO.dedupMinhashVerify)),
    Declared("corpus_incremental", E.corpusIncremental(_, _), Some(EO.corpusIncremental)),
    Declared("dedup_simhash", E.dedupSimhash(_, _), Some(EO.dedupSimhash)),
    Declared("dedup_embedding", E.dedupEmbedding(_, _), Some(EO.dedupEmbedding)),
    Declared("dedup_semantic", E.dedupSemantic(_, _), Some(EO.dedupSemantic)),
    Declared("ann_lsh_topk", E.annLsh(_, _), Some(EO.annExactTop10)),
    Declared("ann_ivf_topk", E.annIvf(_, _), Some(EO.annExactTop10)),
    Declared("ann_ivf_stored", E.annIvfStored(_, _), None),
    // shared VERBATIM with the exact twin — merge-on-read freshness gate
    Declared("ann_ivf_delta", E.annIvfDelta(_, _), Some(EO.annExactTop10)),
    Declared("ann_ivf_kmeans", E.annIvfKmeans(_, _), Some(EO.annExactTop10)),
    Declared("ann_filtered", E.annFiltered(_, _), Some(EO.annFilteredExact)),
    Declared("ann_ivfpq_topk", E.annIvfPq(_, _), Some(EO.annExactTop10)),
    Declared("ann_knn_join", E.annKnnJoin(_, _), None),
    Declared("emb_quantize", E.embQuantize(_, _), Some(EO.embQuantize)),
    Declared("emb_centroid", E.embCentroid(_, _), Some(EO.embCentroid)),
    Declared("emb_classify", E.embClassify(_, _), Some(EO.embClassify)),
    Declared("ann_q8_topk", E.annQ8(_, _), Some(EO.annQ8)),
    Declared("ann_q8_range", E.annQ8Range(_, _), Some(EO.annQ8Range)),
    Declared("corpus_split", E.corpusSplit(_, _), Some(EO.corpusSplit)),
    Declared("corpus_sample", E.corpusSample(_, _), Some(EO.corpusSample)),
    Declared("corpus_reservoir", E.corpusReservoir(_, _), Some(EO.corpusReservoir)),
    Declared("corpus_leakage", E.corpusLeakage(_, _), Some(EO.corpusLeakage)),
    Declared("corpus_pack", E.corpusPack(_, _), Some(EO.corpusPack)),
    Declared("corpus_interleave", E.corpusInterleave(_, _), Some(EO.corpusInterleave)),
    Declared("corpus_mix", E.corpusMix(_, _), Some(EO.corpusMix)),
    Declared("corpus_decontam", E.corpusDecontam(_, _), Some(EO.corpusDecontam)),
    // the Bloom prefilter is exact-preserving, so the bloom path must
    // match the SAME oracle SQL bit for bit — sharing the string keeps
    // the two paths from drifting apart
    Declared("corpus_decontam_bloom", E.corpusDecontamBloom(_, _), Some(EO.corpusDecontam)),
    Declared("corpus_chunk", E.corpusChunk(_, _), Some(EO.corpusChunk)),
    Declared("corpus_offsets", E.corpusOffsets(_, _), Some(EO.corpusOffsets)),
    Declared("corpus_shard", E.corpusShard(_, _), Some(EO.corpusShard)),
    Declared("corpus_token_budget", E.corpusTokenBudget(_, _), Some(EO.corpusTokenBudget)),
    Declared("corpus_hist", E.corpusHist(_, _), Some(EO.corpusHist)),
    Declared("corpus_stats", E.corpusStats(_, _), Some(EO.corpusStats)),
    Declared("layout_zorder", E.layoutZorder(_, _), Some(EO.layoutZorder)),
    Declared("layout_hilbert", E.layoutHilbert(_, _), Some(EO.layoutHilbert)),
    Declared("layout_hilbert_stored", E.layoutHilbertStored(_, _), Some(EO.layoutHilbertStored)),
    Declared("layout_zorder_stored", E.layoutZorderStored(_, _), Some(EO.layoutZorderStored)),
    Declared("line_dedup", E.lineDedup(_, _), Some(EO.lineDedup)),
    Declared("corpus_curate", E.corpusCurate(_, _), Some(EO.corpusCurate)),
    Declared("corpus_curate2", E.corpusCurate2(_, _), Some(EO.corpusCurate2)),
    Declared("corpus_curate3", E.corpusCurate3(_, _), Some(EO.corpusCurate3)),
    Declared("corpus_curate4", E.corpusCurate4(_, _), Some(EO.corpusCurate4)),
    Declared("text_tokens", E.textTokens(_, _), Some(EO.textTokens)),
    Declared("text_quality", E.textQuality(_, _), Some(EO.textQuality)),
    Declared("text_langid", E.textLangid(_, _), Some(EO.textLangid)),
    Declared("text_tfidf", E.textTfidf(_, _), Some(EO.textTfidf)),
    Declared("text_bm25", E.textBm25(_, _), Some(EO.textBm25)),
    Declared("retrieve_hybrid", E.retrieveHybrid(_, _), Some(EO.retrieveHybrid)),
    Declared("emb_hard_negatives", E.embHardNegatives(_, _), Some(EO.embHardNegatives)),
    Declared("text_redact", E.textRedact(_, _), Some(EO.textRedact)),
    Declared("text_repetition", E.textRepetition(_, _), Some(EO.textRepetition)),
    Declared("text_familiarity", E.textFamiliarity(_, _), Some(EO.textFamiliarity)),
    Declared("text_lm_bigram", E.textLmBigram(_, _), Some(EO.textLmBigram)),
    Declared("text_lm_trigram", E.textLmTrigram(_, _), Some(EO.textLmTrigram)),
    Declared("bpe_tokens", E.bpeTokens(_, _), None),
    Declared("text_compress", E.textCompress(_, _), None),
    Declared("text_script", E.textScript(_, _), Some(EO.textScript)),
    Declared("text_gopher", E.textGopher(_, _), Some(EO.textGopher)),
    Declared("url_filter", E.urlFilter(_, _), Some(EO.urlFilter)),
    Declared("url_robots", E.urlRobots(_, _), Some(EO.urlRobots)),
    Declared("text_fingerprint", E.textFingerprint(_, _), None),
    Declared("text_winnow", E.textWinnow(_, _), Some(EO.textWinnow)),
    Declared("mm_bytes", E.mmBytes(_, _), Some(EO.mmBytes)),
    Declared("mm_decode", E.mmDecode(_, _), Some(EO.mmDecode)),
    Declared("mm_frames", E.mmFrames(_, _), Some(EO.mmFrames)),
    Declared("mm_resize", E.mmResize(_, _), Some(EO.mmResize)),
    Declared("mm_audio", E.mmAudio(_, _), Some(EO.mmAudio)),
    Declared("mm_pcm", E.mmPcm(_, _), Some(EO.mmPcm)),
    Declared("mm_video", E.mmVideo(_, _), Some(EO.mmVideo)),
    Declared("mm_video_frames", E.mmVideoFrames(_, _), Some(EO.mmVideoFrames)),
    Declared("mm_video_sample", E.mmVideoSample(_, _), Some(EO.mmVideoSample)),
    Declared("mm_video_dedup", E.mmVideoDedup(_, _), Some(EO.mmVideoDedup)),
    Declared("mm_video_phash", E.mmVideoPhash(_, _), Some(EO.mmVideoPhash)),
    Declared("mm_video_scene", E.mmVideoScene(_, _), Some(EO.mmVideoScene)),
    Declared("mm_audio_scene", E.mmAudioScene(_, _), Some(EO.mmAudioScene)),
    Declared("mm_audio_dedup", E.mmAudioDedup(_, _), Some(EO.mmAudioDedup)),
    Declared("mm_audio_fp", E.mmAudioFp(_, _), Some(EO.mmAudioFp)),
    Declared("mm_audio_neardup", E.mmAudioNeardup(_, _), Some(EO.mmAudioNeardup)),
    Declared("mm_image_dedup", E.mmImageDedup(_, _), Some(EO.mmImageDedup)),
    Declared("mm_image_phash", E.mmImagePhash(_, _), Some(EO.mmImagePhash)),
    Declared("mm_image_neardup", E.mmImageNeardup(_, _), Some(EO.mmImageNeardup)),
    Declared("mm_census", E.mmCensus(_, _), Some(EO.mmCensus)),
    Declared("mm_curate", E.mmCurate(_, _), Some(EO.mmCurate)),
    // scale utilities on the declared surface: salt-invariant skew join,
    // layout-invariant bucketed join (zero-Exchange plan in PlanAuditSpec)
    Declared("skew_join", E.skewJoin(_, _), Some(EO.skewJoin)),
    Declared("bucketed_join", E.bucketedJoin(_, _), Some(EO.bucketedJoin)),
    // iterative BSP graph computation (fixed-point integer PageRank,
    // min-label connected components)
    Declared("graph_pagerank", E.graphPagerank(_, _), Some(EO.graphPagerank)),
    Declared("graph_hits", E.graphHits(_, _), Some(EO.graphHits)),
    Declared("graph_modularity", E.graphModularity(_, _), Some(EO.graphModularity)),
    Declared("graph_conductance", E.graphConductance(_, _), Some(EO.graphConductance)),
    Declared("graph_modularity_volume", E.graphModularityVolume(_, _),
      Some(EO.graphModularityVolume)),
    Declared("graph_hits_volume", E.graphHitsVolume(_, _), Some(EO.graphHitsVolume)),
    Declared("graph_pagerank_wide", E.graphPagerankWide(_, _), Some(EO.graphPagerank)),
    Declared("graph_pagerank_weighted", E.graphPagerankWeighted(_, _),
      Some(EO.graphPagerankWeighted)),
    Declared("graph_pagerank_volume", E.graphPagerankVolume(_, _), Some(EO.graphPagerankVolume)),
    Declared("graph_ppr_volume", E.graphPprVolume(_, _), Some(EO.graphPprVolume)),
    Declared("graph_pagerank_weighted_volume", E.graphPagerankWeightedVolume(_, _),
      Some(EO.graphPagerankWeightedVolume)),
    Declared("graph_cc_volume", E.graphCcVolume(_, _), Some(EO.graphCcVolume)),
    Declared("graph_sssp_volume", E.graphSsspVolume(_, _), Some(EO.graphSsspVolume)),
    Declared("graph_ppr", E.graphPpr(_, _), Some(EO.graphPpr)),
    Declared("graph_cc", E.graphCc(_, _), Some(EO.graphCc)),
    Declared("graph_scc", E.graphScc(_, _), Some(EO.graphScc)),
    Declared("graph_scc_volume", E.graphSccVolume(_, _), Some(EO.graphSccVolume)),
    Declared("graph_kcore_volume", E.graphKcoreVolume(_, _), Some(EO.graphKcoreVolume)),
    Declared("graph_lpa_volume", E.graphLpaVolume(_, _), Some(EO.graphLpaVolume)),
    Declared("graph_triangles_volume", E.graphTrianglesVolume(_, _), Some(EO.graphTrianglesVolume)),
    Declared("graph_sssp", E.graphSssp(_, _), Some(EO.graphSssp)),
    Declared("graph_reciprocity", E.graphReciprocity(_, _), Some(EO.graphReciprocity)),
    Declared("corpus_novelty", E.corpusNovelty(_, _), Some(EO.corpusNovelty)),
    Declared("corpus_dup_hist", E.corpusDupHist(_, _), Some(EO.corpusDupHist)),
    Declared("graph_harmonic", E.graphHarmonic(_, _), Some(EO.graphHarmonic)),
    Declared("graph_harmonic_hll", E.graphHarmonicHll(_, _), Some(EO.graphHarmonicHll)),
    Declared("graph_nf", E.graphNf(_, _), Some(EO.graphNf)),
    Declared("graph_nf_hll", E.graphNfHll(_, _), Some(EO.graphNfHll)),
    Declared("graph_triangles", E.graphTriangles(_, _), Some(EO.graphTriangles)),
    Declared("graph_clustering", E.graphClustering(_, _), Some(EO.graphClustering)),
    Declared("graph_linkpred", E.graphLinkpred(_, _), Some(EO.graphLinkpred)),
    Declared("graph_linkpred_volume", E.graphLinkpredVolume(_, _), Some(EO.graphLinkpredVolume)),
    Declared("graph_kcore", E.graphKcore(_, _), Some(EO.graphKcore)),
    Declared("graph_lpa", E.graphLpa(_, _), Some(EO.graphLpa)),
    Declared("graph_coaccess", E.graphCoaccess(_, _), Some(EO.graphCoaccess)),
    Declared("graph_betweenness", E.graphBetweenness(_, _), Some(EO.graphBetweenness)),
    Declared("graph_betweenness_volume", E.graphBetweennessVolume(_, _),
      Some(EO.graphBetweennessVolume)),
    // temporal warehouse maintenance: SCD2 validity ranges, interval algebra
    Declared("scd2_history", E.scd2History(_, _), Some(EO.scd2History)),
    // shared VERBATIM with the full rebuild — merge ≡ rebuild is the gate
    Declared("scd2_merge", E.scd2Merge(_, _), Some(EO.scd2History)),
    Declared("scd2_lookup", E.scd2Lookup(_, _), Some(EO.scd2Lookup)),
    Declared("events_anomaly", E.eventsAnomaly(_, _), Some(EO.eventsAnomaly)),
    Declared("events_retention", E.eventsRetention(_, _), Some(EO.eventsRetention)),
    Declared("events_retention_weekly", E.eventsRetentionWeekly(_, _),
      Some(EO.eventsRetentionWeekly)),
    Declared("events_stickiness", E.eventsStickiness(_, _), Some(EO.eventsStickiness)),
    Declared("events_changepoint", E.eventsChangepoint(_, _), Some(EO.eventsChangepoint)),
    Declared("interval_merge", E.intervalMerge(_, _), Some(EO.intervalMerge)),
    Declared("interval_join", E.intervalJoin(_, _), Some(EO.intervalJoin)),
    Declared("dq_drift", E.dqDrift(_, _), Some(EO.dqDrift)),
    Declared("cdc_apply", E.cdcApply(_, _), Some(EO.cdcApply)),
    Declared("cdc_apply_stored", E.cdcApplyStored(_, _), Some(EO.cdcApplyStored)),
    Declared("cdc_compact_rewrite", E.cdcCompactRewrite(_, _), Some(EO.cdcApplyStored)),
    Declared("cdc_time_travel", E.cdcTimeTravel(_, _), Some(EO.cdcTimeTravel)),
    Declared("layout_compact_stored", E.layoutCompactStored(_, _), Some(EO.layoutCompactStored)),
    Declared("layout_zonemap_stored", E.layoutZonemapStored(_, _), Some(EO.layoutZonemapStored)),
    Declared("index_inverted_stored", E.indexInvertedStored(_, _), Some(EO.indexInvertedStored)),
    Declared("index_bm25_probe", E.indexBm25Probe(_, _), Some(EO.indexBm25Probe)),
    Declared("index_phrase_probe", E.indexPhraseProbe(_, _), Some(EO.indexPhraseProbe)),
    Declared("index_bm25_phrase", E.indexBm25Phrase(_, _), Some(EO.indexBm25Phrase)),
    // shared VERBATIM with the full-index probe — merge-on-read ≡ full is the gate
    Declared("index_inverted_delta", E.indexInvertedDelta(_, _), Some(EO.indexInvertedStored)),
    Declared("index_trgm_probe", E.indexTrgmProbe(_, _), Some(EO.indexTrgmProbe)),
    Declared("dq_expectations", E.dqExpectations(_, _), Some(EO.dqExpectations)),
    Declared("emb_knn_graph", E.embKnnGraph(_, _), Some(EO.embKnnGraph)),
    Declared("emb_mmr", E.embMmr(_, _), Some(EO.embMmr)),
    Declared("emb_pca_power", E.embPcaPower(_, _), Some(EO.embPcaPower)),
    Declared("emb_trunc_recall", E.embTruncRecall(_, _), Some(EO.embTruncRecall)),
    // §2.7 streaming operators, drained to deterministic batch shapes
    Declared("stream_session", SQ.streamSession(_, _), Some(SO.streamSession)),
    Declared("stream_session_native", SQ.streamSessionNative(_, _), Some(SO.streamSessionNative)),
    Declared("stream_dedup", SQ.streamDedup(_, _), Some(SO.streamDedup)),
    Declared("stream_join", SQ.streamJoin(_, _), Some(SO.streamJoin)),
    Declared("stream_join_outer", SQ.streamJoinOuter(_, _), Some(SO.streamJoinOuter)),
    Declared("stream_window", SQ.streamWindow(_, _), Some(SO.streamWindow)),
    // shared VERBATIM with the batch twin — drain ≡ batch is the gate
    Declared("stream_retention", SQ.streamRetention(_, _), Some(EO.eventsRetention)),
    // shared VERBATIM with the batch twin — drain ≡ batch is the gate
    Declared("stream_changepoint", SQ.streamChangepoint(_, _), Some(EO.eventsChangepoint)),
    Declared("stream_drift", SQ.streamDrift(_, _), Some(EO.dqDrift)),
    Declared("stream_window_append", SQ.streamWindowAppend(_, _), Some(SO.streamWindowAppend)),
    Declared("stream_funnel", SQ.streamFunnel(_, _), Some(SO.streamFunnel)),
    Declared("stream_topk", SQ.streamTopK(_, _), Some(SO.streamTopK)),
    Declared("stream_asof", SQ.streamAsof(_, _), Some(SO.streamAsof)),
    Declared("stream_interval", SQ.streamInterval(_, _), Some(SO.streamInterval)),
    Declared("stream_decontam", SQ.streamDecontam(_, _), Some(SO.streamDecontam)),
    Declared("stream_minhash", SQ.streamMinhash(_, _), Some(SO.streamMinhash)),
    Declared("stream_cdc", SQ.streamCdc(_, _), Some(EO.cdcApply)),
    Declared("stream_scd", SQ.streamScd(_, _), Some(SO.streamScd)),
    Declared("stream_hll_daily", SQ.streamHllDaily(_, _), Some(SO.streamHllDaily)),
    Declared("stream_curate", SQ.streamCurate(_, _), Some(SO.streamCurate)),
    Declared("stream_classify", SQ.streamClassify(_, _), Some(EO.embClassify)),
  )

  /** Name → declaration; a name declared twice fails here, at first use
    * of the registry, instead of one silently shadowing the other. */
  private[graft] def index(ds: Seq[Declared]): Map[String, Declared] = {
    val repeated = ds.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"query names declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    ds.map(d => d.name -> d).toMap
  }

  private lazy val byName: Map[String, Declared] = index(declared)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, d) => n -> d.build }

  lazy val oracleSql: Map[String, String] =
    byName.collect { case (n, Declared(_, _, Some(sql))) => n -> sql }
}
