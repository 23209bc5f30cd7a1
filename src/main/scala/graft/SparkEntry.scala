package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator has a `queries` entry; every
  * SQL-expressible one also has an `oracleSql` entry whose DuckDB
  * result is value-identical (see SURVEY.md §6 for the cross-engine
  * determinism rules: exact decimal sums, surface-only double casts,
  * total deterministic ordering, epoch_ms timestamps).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_temporal_sessions" -> ((s, d) => Sessions.temporalSessions(s, d)),
    "q01b_sessions_chunked" -> ((s, d) => Sessions.temporalSessionsChunked(s, d)),
    "q02_session_stats"     -> ((s, d) => Sessions.sessionStats(s, d)),
    "q03_concat_runs"       -> ((s, d) => Sessions.concatRuns(s, d)),
    "q04_largest_sessions"  -> ((s, d) => Sessions.largestSessions(s, d)),
    "q05_activity_heatmap"  -> ((s, d) => Sessions.activityHeatmap(s, d)),
    "q06_user_stats"        -> ((s, d) => Sessions.userStats(s, d)),
    "q08_long_groups"       -> ((s, d) => Sessions.longGroups(s, d)),
    "q09_json_extract"      -> ((s, d) => Messages.jsonExtract(s, d)),
    "q10_media_markers"     -> ((s, d) => Messages.mediaMarkers(s, d)),
    "q11_message_filter"    -> ((s, d) => Messages.messageFilter(s, d)),
    "q12_recipients"        -> ((s, d) => Messages.recipients(s, d)),
    "q13_semantic_segments" -> ((s, d) => Vectors.semanticSegments(s, d)),
    "q14_groups"            -> ((s, d) => Vectors.semanticGroups(s, d)),
    "q15_name_mapping"      -> ((s, d) => Messages.nameMapping(s, d)),
    "q43_chat_stats"        -> ((s, d) => Messages.chatStats(s, d)),
    "q45_asof_join"         -> ((s, d) => Messages.asofJoin(s, d)),
    "q46_range_join"        -> ((s, d) => Messages.rangeJoinCounts(s, d)),
    "q46b_range_join_binned" -> ((s, d) => Messages.rangeJoinCountsBinned(s, d)),
    "q16_vector_topk"       -> ((s, d) => Vectors.vectorTopK(s, d)),
    "q17_vector_threshold"  -> ((s, d) => Vectors.vectorThreshold(s, d)),
    "q18_vector_join_text"  -> ((s, d) => Vectors.vectorJoinText(s, d)),
    "q18b_context_snippets" -> ((s, d) => Vectors.contextSnippets(s, d)),
    "q19_ann_ivf"           -> ((s, d) => Vectors.annIvf(s, d)),
    "q19b_ann_ivf_seeded"   -> ((s, d) => Vectors.annIvfSeeded(s, d)),
    "q41_kmeans_ivf"        -> ((s, d) => Vectors.kmeansIvf(s, d)),
    "q41b_kmeans_planted"   -> ((s, d) => Vectors.kmeansPlanted(s, d)),
    "q47_sliding_segments"  -> ((s, d) => Vectors.slidingSegments(s, d)),
    "q48_ivf_persisted"     -> ((s, d) => VectorIndex.buildAndProbe(s, d)),
    "q48b_index_stats"      -> ((s, d) => VectorIndex.statsEntry(s, d)),
    "q42_embedding_stats"   -> ((s, d) => Vectors.embeddingStats(s, d)),
    "q36_top_words"         -> ((s, d) => TextAnalysis.topWords(s, d)),
    "q37_threshold_heatmap" -> ((s, d) => Sessions.thresholdHeatmap(s, d)),
    "q38_doc_chunks"        -> ((s, d) => TextAnalysis.docChunks(s, d)),
    "q39_corpus_prep"       -> ((s, d) => TextAnalysis.corpusPrep(s, d)),
    // the SCALE composition order as a certified operator: near-dup
    // over exact-dedup survivors (identical output, quadratic-proof
    // under mega-duplication — SURVEY §4 r16 mega-dup rows)
    "q39b_prep_dedup_first" -> ((s, d) => TextAnalysis.corpusPrepDedupFirst(s, d)),
    "q07_word_quantiles"    -> ((s, d) => TextAnalysis.wordQuantiles(s, d)),
    "q25_dedup_exact"       -> ((s, d) => Dedup.dedupExact(s, d)),
    "q26_dedup_ngram"       -> ((s, d) => Dedup.dedupNgram(s, d)),
    "q40_dedup_allpairs"    -> ((s, d) => Dedup.dedupAllPairs(s, d)),
    "q27_dedup_minhash"     -> ((s, d) => Dedup.dedupMinHash(s, d)),
    "q27b_minhash_planted"  -> ((s, d) => Dedup.dedupMinHashPlanted(s, d)),
    "q28_dedup_simhash"     -> ((s, d) => Dedup.dedupSimHash(s, d)),
    "q28b_simhash_exact"    -> ((s, d) => Dedup.dedupSimHashExact(s, d)),
    "q29_dedup_embedding"   -> ((s, d) => Dedup.dedupEmbedding(s, d)),
    "q29b_dedup_emb_ivf"    -> ((s, d) => Dedup.dedupEmbeddingIvf(s, d)),
    "q29c_dedup_ivf_indexed" -> ((s, d) => Dedup.dedupEmbeddingIvfIndexed(s, d)),
    "q29d_dedup_ivf_planted" -> ((s, d) => Dedup.dedupEmbeddingIvfPlanted(s, d)),
    "q44_dedup_emb_lsh"     -> ((s, d) => Dedup.dedupEmbeddingLshPlanted(s, d)),
    "q67_pq_topk"           -> ((s, d) => PQ.pqTopK(s, d)),
    "q67b_ivfpq_topk"       -> ((s, d) => PQ.ivfPqTopK(s, d)),
    "q67g_ivfpq_planted"    -> ((s, d) => PQ.ivfPqPlanted(s, d)),
    "q67c_pq_indexed"       -> ((s, d) => PQ.pqTopKIndexed(s, d)),
    "q67d_ivfpq_indexed"    -> ((s, d) => PQ.ivfPqTopKIndexed(s, d)),
    // codes is ARRAY<INT>; the driver's pandas compare canonicalizes by
    // sorting every column and crashes on array cells (SURVEY §6:
    // order-significant arrays reach the compare as a positional string)
    // — spell it via to_json, where a NULL element prints as `null` and
    // an empty/missing array stays distinguishable ("[]"/NULL), so a
    // malformed encode can never be masked at the compared surface
    // (ADVICE r10: concat_ws silently skipped null elements).
    "q67e_pq_encode_incr"   -> ((s, d) => PQ.pqEncodeIncremental(s, d)
      .select(org.apache.spark.sql.functions.col("vec_id"),
              org.apache.spark.sql.functions.to_json(
                org.apache.spark.sql.functions.col("codes"))
                .as("codes_csv"))),
    "q67f_ivfpq_incr"       -> ((s, d) => PQ.ivfPqIncrTopK(s, d)),
    "q53_dup_clusters"      -> ((s, d) => DupGraph.dupClusters(s, d)),
    "q64_substring_dup"     -> ((s, d) => Dedup.substringDup(s, d)),
    "q64b_substring_incr"   -> ((s, d) => Dedup.substringDupIncremental(s, d)),
    "q66_rarity_score"      -> ((s, d) => TextAnalysis.rarityScore(s, d)),
    "q71_gopher_rules"      -> ((s, d) => TextAnalysis.gopherRules(s, d)),
    "q33b_fingerprint_groups" -> ((s, d) => TextAnalysis.fingerprintGroups(s, d)),
    "q01c_sessions_native"  -> ((s, d) => Sessions.sessionStatsNative(s, d)),
    "q54_decontam"          -> ((s, d) => Curation.decontaminate(s, d)),
    "q54b_decontam_bloom"   -> ((s, d) => Curation.decontaminateBloom(s, d)),
    "q55_pii_scrub"         -> ((s, d) => Curation.piiScrub(s, d)),
    "q70_importance_select" -> ((s, d) => Curation.importanceSelect(s, d)),
    "q57_pack_sequences"    -> ((s, d) => Curation.packSequences(s, d)),
    "q57b_pack_sharded"     -> ((s, d) => Curation.packSequencesSharded(s, d)),
    "q58_distinctive_terms" -> ((s, d) => Curation.distinctiveTerms(s, d)),
    "q59_stratified_sample" -> ((s, d) => Curation.stratifiedSample(s, d)),
    "q65_temperature_mix"   -> ((s, d) => Curation.temperatureMix(s, d)),
    "q68_mix_drift"         -> ((s, d) => Curation.mixDrift(s, d)),
    "q72_source_overlap"    -> ((s, d) => Curation.sourceOverlap(s, d)),
    "q73_boilerplate_spans" -> ((s, d) => Curation.boilerplateSpans(s, d)),
    "q76_decontam_fuzzy"    -> ((s, d) => Curation.decontamFuzzy(s, d)),
    "q77_curation_funnel"   -> ((s, d) => Curation.curationFunnel(s, d)),
    // the DEPLOYMENT spelling: one corpus scan feeds every gate
    // (VERDICT r17 item 1); shares q77's oracle verbatim
    "q77b_funnel_onescan"   -> ((s, d) => Curation.curationFunnelOneScan(s, d)),
    "q78_ann_recall"        -> ((s, d) => Vectors.annRecall(s, d)),
    "q79_funnel_delta"      -> ((s, d) => Curation.funnelDelta(s, d)),
    "q79b_funnel_indexed"   -> ((s, d) => Curation.funnelDeltaIndexed(s, d)),
    "q74_token_budget"      -> ((s, d) => Curation.tokenBudget(s, d)),
    "q75_cluster_reps"      -> ((s, d) => DupGraph.clusterReps(s, d)),
    "q69_length_outliers"   -> ((s, d) => Curation.lengthOutliers(s, d)),
    "q60_repetition"        -> ((s, d) => TextAnalysis.repetition(s, d)),
    "q63_quality_bins"      -> ((s, d) => TextAnalysis.qualityBins(s, d)),
    "q63b_bins_chunked"     -> ((s, d) => TextAnalysis.qualityBinsChunked(s, d)),
    "q61_emb_outliers"      -> ((s, d) => EmbeddingQuality.embeddingOutliers(s, d)),
    "q62_hard_negs"         -> ((s, d) => EmbeddingQuality.hardNegatives(s, d)),
    "q62b_hard_negs_ivf"    -> ((s, d) => EmbeddingQuality.hardNegativesIvf(s, d)),
    "q62c_hard_negs_planted" -> ((s, d) => EmbeddingQuality.hardNegativesIvfPlanted(s, d)),
    "q56_reply_threads"     -> ((s, d) => ReplyChains.eventThreads(s, d)),
    "q56b_thread_stats"     -> ((s, d) => ReplyChains.eventThreadStats(s, d)),
    // topForwardSources over a PLANTED forward frame (events carry no
    // forwarded_from; the deterministic parity/mod plant is the q27b
    // pattern): the REAL operator does the grouping, ranking and tie
    // ordering — the plant only supplies the column
    "q56c_forward_sources"  -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val msgs = Tables.events(s, d).select(
        col("user_id").as("chat_id"),
        when(col("event_id") % 7 === 0,
          concat(lit("src"), (col("event_id") % 13).cast("string"))).as("forwarded_from"))
      ReplyChains.topForwardSources(msgs)
    }),
    "q30_token_stats"       -> ((s, d) => TextAnalysis.tokenStats(s, d)),
    "q31_quality_score"     -> ((s, d) => TextAnalysis.qualityScore(s, d)),
    "q32_lang_id"           -> ((s, d) => TextAnalysis.langId(s, d)),
    "q33_fingerprint"       -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    "q34_media_pipeline"    -> ((s, d) => Multimodal.mediaPipeline(s, d)),
    // the GRID decode pair: real byte-parsing decode under the DuckDB
    // oracle (q34b row path, q34c the same kernel through the Arrow
    // columnar seam) — the multimodal family's driver-gate rows
    "q34b_media_decode"     -> ((s, d) => Multimodal.mediaDecodeFeatures(s, d)),
    "q34c_media_arrow"      -> ((s, d) => Multimodal.mediaDecodeFeaturesArrow(s, d)),
    // q34d: the decoded media column as a JOIN DIMENSION — GRID
    // decode → brightness band → join with q31 text quality
    "q34d_media_quality"    -> ((s, d) => Multimodal.mediaQualityJoin(s, d)),
    "q49_text_encode"       -> ((s, d) => TextEncoder.encodePipeline(s, d)),
    // the content-dependent hashing-trick encoder (VERDICT r17
    // item 5): certification bites on the token multiset
    "q49b_encode_hashed"    -> ((s, d) => TextEncoder.encodePipelineHashed(s, d)),
    "q35_bpe_tokens"        -> ((s, d) => TextAnalysis.bpeTokens(s, d)),
    "q50_cluster_details"  -> ((s, d) => Analytics.clusterDetails(s, d)),
    "q51_chats_overview"   -> ((s, d) => Analytics.chatsOverview(s, d)),
    "q52_store_stats"      -> ((s, d) => Analytics.storeStats(s, d)),
    "q20_pricing_summary" -> ((s, d) => Relational.pricingSummary(s, d)),
    "q21_top_orders"      -> ((s, d) => Relational.topOrders(s, d)),
    "q22_region_volume"   -> ((s, d) => Relational.regionVolume(s, d)),
    "q23_windowed_topn"   -> ((s, d) => Relational.windowedTopN(s, d)),
    "q24_order_priority"  -> ((s, d) => Relational.orderPriority(s, d)),
    // nBatches=3 (VERDICT r17 item 7): session state now RESTORES
    // across micro-batch slices under the hard gate — open sessions
    // straddle the two slice boundaries and must merge with state
    // written by earlier batches, the same multi-slice certification
    // q83/q83d carry for dedup state
    "q80_stream_sessions" -> ((s, d) => streaming.StreamHarness.streamSessions(s, d,
      nBatches = 3)),
    // the PRODUCTION state backend under the same oracle: identical
    // plan and feed, state in RocksDB (off-heap, changelog
    // checkpoints) instead of the default heap maps — the backend
    // swap itself is what this row certifies
    "q80c_sessions_rocks" -> ((s, d) => streaming.StreamHarness.streamSessions(s, d,
      provider = Some(streaming.StateBackend.RocksDBProvider), reuse = true)),
    // Spark's NATIVE session_window operator (a different physical
    // path: SessionWindowStateStore exec nodes, merging-session
    // state) under the identical oracle
    "q80d_sessions_native" -> ((s, d) => streaming.StreamHarness.streamSessions(s, d,
      native = true, reuse = true)),
    "q80b_stream_funnel"  -> ((s, d) => streaming.StreamHarness.streamFunnel(s, d)),
    // MCP serving surface under the oracle (below the encoder seam:
    // the query is corpus vector 3, which DuckDB can name too)
    "q81_mcp_search"      -> ((s, d) =>
      mcp.McpTools.vectorSearchById(s, d, vecId = 3L, topK = 10,
        similarityThreshold = 0.25)),
    "q81b_mcp_clusters"   -> ((s, d) =>
      mcp.McpTools.clusterSearchById(s, d, vecId = 3L, topK = 50,
        maxClusters = 10, similarityThreshold = 0.25)),
    // getCluster with a deterministic pick: the FIRST (source,
    // group_id) holding >= 3 members — chosen by data, not hardcoded,
    // so the entry is non-vacuous at every sf
    "q81c_mcp_get_cluster" -> ((s, d) => {
      val pick = Vectors.semanticGroups(s, d)
        .groupBy("source", "group_id")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .filter(org.apache.spark.sql.functions.col("n") >= 3)
        .orderBy("source", "group_id").limit(1).collect().headOption
      pick match {
        case Some(p) => mcp.McpTools.getCluster(s, d, p.getString(0), p.getLong(1))
        // degenerate corpus with no cluster of >= 3 members: the
        // oracle's CTE yields zero rows, so the entry must return an
        // EMPTY frame with getCluster's schema rather than throw
        // NoSuchElementException and read as a failure (ADVICE r13)
        case None =>
          import org.apache.spark.sql.functions.{col, lit}
          Vectors.semanticGroups(s, d)
            .filter(lit(false))
            .select("doc_id", "source", "group_id")
            .join(Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")),
              "doc_id")
      }
    }),
    "q82_pseudonymize"    -> ((s, d) => Curation.pseudonymize(s, d)),
    // nBatches=3: the representative MULTI-SLICE feed under the hard
    // gate (VERDICT r16 item 2) — per-bucket shingle state must
    // restore across micro-batch boundaries for the oracle to hold
    "q83_stream_dedup"    -> ((s, d) => streaming.StreamHarness.streamDedup(s, d,
      nBatches = 3)),
    // the dedup-signature state on the PRODUCTION backend (q80c's
    // pattern): same plan, feed and oracle, state in RocksDB
    "q83b_dedup_rocks"    -> ((s, d) => streaming.StreamHarness.streamDedup(s, d,
      provider = Some(streaming.StateBackend.RocksDBProvider), reuse = true)),
    // the PRODUCTION-STATE screen (constant-bytes signature state) +
    // downstream exact verify, under q27b's brute-force oracle
    "q83c_dedup_signature" -> ((s, d) => streaming.StreamHarness.streamDedupSignature(s, d,
      reuse = true)),
    // the streaming corpus gate (quality filter + first-writer-wins
    // exact-dup state), multi-slice by default
    "q83d_stream_gate"    -> ((s, d) => streaming.StreamHarness.streamCorpusGate(s, d)),
    // nBatches=3 (r19, VERDICT r18 item 6): the bench-gram seen-guard
    // state must hold across micro-batch slices — a doc whose
    // contaminating grams arrived in an earlier slice's build must
    // still gate identically
    "q84_stream_decontam" -> ((s, d) => streaming.StreamHarness.streamDecontam(s, d,
      nBatches = 3, reuse = true)),
    // nBatches=3 (r18): the thread-root state map must RESOLVE
    // replies whose root arrived in an EARLIER slice — cross-slice
    // state reads under the hard gate, completing the multi-slice
    // set (q80 sessions, q83 dedup, q83d gate, q85 threads)
    "q85_stream_threads"  -> ((s, d) => streaming.StreamHarness.streamThreads(s, d,
      nBatches = 3, reuse = true)),
    // the thread-root map on RocksDB, under q56's oracle verbatim
    "q85b_threads_rocks"  -> ((s, d) => streaming.StreamHarness.streamThreads(s, d,
      provider = Some(streaming.StateBackend.RocksDBProvider), reuse = true)),
    // nBatches=3 (r19, VERDICT r18 item 6): tumbling windows stay
    // OPEN across slice boundaries — counts for a window fed by two
    // slices must merge in state, not double-emit (append mode only
    // emits on watermark close)
    "q89_stream_windowed" -> ((s, d) => streaming.StreamHarness.streamWindowed(s, d,
      nBatches = 3, reuse = true)),
    // the streaming ANN gate (PqStream.nearDupGate over the persisted
    // planted IVF-PQ index) — q67g's ADC-floor certainty in stream
    // form; pairs only, no floats at the compared surface. nBatches=3
    // (r20, VERDICT r19 item 8): the gate is deliberately zero-state,
    // so the slices certify the stream-static probe re-planning per
    // micro-batch rather than state restore
    "q91_stream_ann"      -> ((s, d) => streaming.StreamHarness.streamAnnGate(s, d,
      nBatches = 3, reuse = true)),
    "q86_source_roundtrip" -> ((s, d) => sources.SourceHarness.jsonRoundTrip(s, d)),
    "q86b_source_html"    -> ((s, d) => sources.SourceHarness.htmlRoundTrip(s, d)),
    "q86c_source_pipeline" -> ((s, d) => sources.SourceHarness.pipelineRoundTrip(s, d)),
    "q86d_chat_summary"   -> ((s, d) => sources.SourceHarness.chatSummaryRoundTrip(s, d)),
    // incremental resessionization under q01's oracle: stored rows
    // for dirty users (user_id % 5 == 0) are deliberately CORRUPTED
    // (+999) before the call — the entry is only EXACT if the dirty
    // slice actually re-derives (and clean users' stored rows pass
    // through untouched), so both paths are load-bearing
    "q88_heatmap_intensity" -> ((s, d) => Sessions.heatmapIntensity(s, d)),
    // the fourth (and last) MCP tool under the oracle: the seeded
    // pick is plain BIGINT arithmetic, replayed verbatim in SQL
    "q81d_mcp_random_cluster" -> ((s, d) =>
      mcp.McpTools.randomLargeCluster(s, d, minSize = 3)),
    "q87_resessionize"    -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, when}
      val events = Tables.events(s, d)
      val dirty = (c: org.apache.spark.sql.Column) => c % 5 === 0
      val stale = Sessions.temporalSessions(s, d)
        .withColumn("session_id",
          when(dirty(col("user_id")), col("session_id") + 999)
            .otherwise(col("session_id")))
      Sessions.resessionizeDirty(events, stale,
          events.select("user_id").filter(dirty(col("user_id"))))
        .orderBy("user_id", "session_id", "event_id")
    }),
    // q90: Incremental.embedNew under the oracle (the q87 corruption
    // pattern, VERDICT r16 item 3): the stored vectors for a derived
    // delta (vec_id % 16 == 0) are REMOVED from the store before the
    // call — the entry is only EXACT if (a) the delta re-encodes via
    // the batched encoder (q49's replay arithmetic) and (b) every
    // kept store row passes through byte-identical — both paths
    // load-bearing. Surface = q49's probe columns (v0 exact
    // float→double widening, comp_sum index-ordered double fold), so
    // vector CONTENT is hash-compared, not just row counts.
    "q90_embed_new"       -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val store = Tables.embeddings(s, d)
        .filter(col("vec_id") % 16 =!= 0)
        .select("vec_id", "embedding")
      Incremental.embedNew(s, docs, store)
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("v0"),
          aggregate(transform(col("embedding"), v => v.cast("double")),
            lit(0.0), (a, x) => a + x).as("comp_sum"))
        .orderBy("vec_id")
    }),
    // q92 family (r18): the k-NN GRAPH — the reference's HNSW
    // capability re-expressed as exact graph (correctness twin),
    // distributed NN-descent (scale path, planted gate) and
    // mutual-kNN connected-component clustering (the LLM-pipeline
    // semantic-clustering primitive). See operators/KnnGraph.scala.
    "q92_knn_graph"       -> ((s, d) => KnnGraph.knnGraphExact(s, d)),
    "q92b_nndescent_gate" -> ((s, d) => KnnGraph.nnDescentGate(s, d)),
    "q92c_semantic_clusters" -> ((s, d) => KnnGraph.semanticClusters(s, d)),
    // q92d (r18): raw text → q49b hash-encode → rank-1 neighbor —
    // the end-to-end semantic-twin composition; planted copies must
    // rank their source's md5-group minimum first (GateInvariants'
    // hashed check pins the no-impostor precondition per corpus)
    "q92d_knn_text_twins" -> ((s, d) => KnnGraph.knnTextTwins(s, d)),
    // q92e (r19): the clustering composition a deployment RUNS —
    // mutual-kNN + CC consuming the DESCENT graph (q92c certifies the
    // same pipeline over the exact graph; this closes the
    // uncertified-composition hole VERDICT r18 flagged)
    "q92e_descent_clusters" -> ((s, d) => KnnGraph.semanticClustersDescentGate(s, d)),
    // q92f (r19): incremental graph maintenance — a delta batch joins
    // the persisted descent graph without a rebuild
    "q92f_knn_increment" -> ((s, d) => KnnGraph.knnIncrementGate(s, d)),
    // q93 (r19): greedy best-first graph-walk search over the
    // persisted graph — the query-time half of the reference's HNSW
    "q93_graph_walk" -> ((s, d) => KnnGraph.graphWalkGate(s, d)),
    // q92g (r20): the NIGHTLY clustering composition — mutual-kNN +
    // CC reading the PERSISTED graph extended by the day's arrivals
    // through the increment path; no descent, no corpus-broadcast
    // shape (q92e keeps the fresh-descent twin its gate needs)
    "q92g_indexed_clusters" -> ((s, d) => KnnGraph.semanticClustersIndexedGate(s, d)),
    // q93b (r20): walk recall@k vs q16's brute top-k on REAL
    // (non-planted) queries — the q78 pattern for the graph walk;
    // the oracle replays graph build + walk + brute + recall
    "q93b_walk_recall" -> ((s, d) => KnnGraph.graphWalkRecall(s, d))
  )

  /** Reference word-count formula (analyze_dialogues.py:273). */
  private val wcSql =
    "CASE WHEN TRIM(text) = '' THEN 0 ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END"

  /** DuckDB side of Vectors.semanticGroups (q14's CTE chain with a
    * final `grp(doc_id, source, group_id)` clause) — spliced into the
    * q81 serving oracles' WITH list.
    */
  private val groupsCteClauses: String =
    """g_je AS (
      |  SELECT d.doc_id, d.source, d.n_chars // 100 AS bucket, e.embedding
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |g_l AS (SELECT *,
      |        LAG(embedding) OVER (PARTITION BY source ORDER BY doc_id) AS prev_emb,
      |        LAG(bucket) OVER (PARTITION BY source ORDER BY doc_id) AS prev_bucket
      |      FROM g_je),
      |g_x AS (SELECT doc_id, source, bucket,
      |        CASE WHEN prev_emb IS NULL THEN 1
      |             WHEN round(1.0 - round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(prev_emb AS DOUBLE[])), 6), 6) > 1.0
      |                  OR bucket <> prev_bucket THEN 1
      |             ELSE 0 END AS brk
      |      FROM g_l),
      |grp AS (SELECT doc_id, source,
      |    CAST(SUM(brk) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS group_id
      |  FROM g_x)""".stripMargin

  /** Distinct bigram shingles of `text` (DuckDB side of q26). */
  private val shinglesSql =
    """list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
      |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))""".stripMargin

  /** Wrapping unsigned-64 multiply-by-constant in DuckDB SQL (UBIGINT
    * in, UBIGINT out) — the q28/q33 hash-replay primitive. A full
    * 64×64 product overflows signed HUGEINT (max ~1.7e38 < 2^127 ≤
    * some 2^128 products), so the constant is split hi/lo 32 bits and
    * recombined mod 2^64: ((a·hi mod 2^32)·2^32 + a·lo) mod 2^64 —
    * every intermediate stays below 2^97. Exact for any a < 2^64.
    */
  private def umulSql(a: String, c: Long): String = {
    val hi = java.lang.Long.toUnsignedString(c >>> 32)
    val lo = java.lang.Long.toUnsignedString(c & 0xffffffffL)
    s"CAST((CAST($a AS HUGEINT) * $hi % 4294967296 * 4294967296 + CAST($a AS HUGEINT) * $lo) % 18446744073709551616 AS UBIGINT)"
  }

  /** The corpus-prep oracle (q39/q39b): identical quality-gate,
    * exact-survivor and rollup text, parameterized ONLY by the
    * shingle source the near-dup CTE blocks over (full documents for
    * q39; exact survivors for q39b) — ONE definition so the
    * composition-order twins cannot drift under edits (VERDICT r16
    * one-definition-per-gate nit).
    */
  private def corpusPrepOracle(shingleSource: String): String =
    s"""WITH quality AS (
       |  SELECT doc_id, wc FROM (
       |    SELECT doc_id, $wcSql AS wc,
       |      round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to'))) AS DOUBLE)
       |            / ($wcSql) * 0.5
       |            + LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 500.0) * 0.5, 6) AS quality
       |    FROM documents) x WHERE quality >= 0.3),
       |survivors AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |neardrop AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM (
       |    WITH t AS ($shingleSource),
       |    b AS (SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk FROM t)
       |    SELECT c.doc_id AS doc_b
       |    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
       |    WHERE round(CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, c.sh))), 6) >= 0.5) p)
       |SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(q.wc) AS BIGINT) AS total_tokens
       |FROM documents d
       |JOIN quality q ON d.doc_id = q.doc_id
       |JOIN survivors s ON d.doc_id = s.doc_id
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM neardrop)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** The stub-encoder replay chain (q49, reused by q90's delta leg):
    * CTEs `jh` → `vv` over a caller-supplied `d(doc_id, text)` CTE.
    * hashCode as a signed-32 wrapping fold, splitmix64 via umulSql,
    * every binary32 op as DOUBLE-compute-then-REAL-cast (exact by the
    * 2p+2 ≤ 53 double-rounding theorem). ONE definition so the
    * q49/q90 gate twins cannot drift apart under edits.
    */
  private def encodeReplayChain: String =
    s"""jh AS (
       |  SELECT doc_id, list_reduce(
       |      list_prepend(0::HUGEINT,
       |        list_transform(range(1, length(text)+1), i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS HUGEINT))),
       |      (h, c) -> ((h * 31 + c + 2147483648) % 4294967296 + 4294967296) % 4294967296 - 2147483648) AS jh
       |  FROM d),
       |s0 AS (SELECT doc_id, CAST(((CAST(xor(CAST(jh AS BIGINT), 32423) AS HUGEINT) % 18446744073709551616) + 18446744073709551616) % 18446744073709551616 AS UBIGINT) AS u FROM jh),
       |s1 AS (SELECT doc_id, CAST((CAST(u AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS x1 FROM s0),
       |s2 AS (SELECT doc_id, ${umulSql("xor(x1, x1 >> 30)", 0xbf58476d1ce4e5b9L)} AS x2 FROM s1),
       |s3 AS (SELECT doc_id, ${umulSql("xor(x2, x2 >> 27)", 0x94d049bb133111ebL)} AS x3 FROM s2),
       |sd AS (SELECT doc_id, xor(x3, x3 >> 31) AS seed FROM s3),
       |gi AS (SELECT doc_id, CAST((CAST(xor(seed, CAST(r.b AS UBIGINT)) AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS x1, r.b AS i FROM sd, range(0, 64) r(b)),
       |h2 AS (SELECT doc_id, i, ${umulSql("xor(x1, x1 >> 30)", 0xbf58476d1ce4e5b9L)} AS x2 FROM gi),
       |h3 AS (SELECT doc_id, i, ${umulSql("xor(x2, x2 >> 27)", 0x94d049bb133111ebL)} AS x3 FROM h2),
       |raw AS (SELECT doc_id, i, CAST(CAST(xor(x3, x3 >> 31) >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0 AS REAL) AS rf FROM h3),
       |rl AS (SELECT doc_id, list(rf ORDER BY i) AS rs FROM raw GROUP BY doc_id),
       |nm AS (SELECT doc_id, rs,
       |  CAST(sqrt(list_reduce(list_prepend(0.0, list_transform(rs, x -> CAST(x AS DOUBLE))), (a, x) -> a + x * x)) AS REAL) AS nf FROM rl),
       |vv AS (SELECT doc_id,
       |  list_transform(rs, x -> CASE WHEN nf = CAST(0.0 AS REAL) THEN CAST(0.0 AS REAL) ELSE CAST(CAST(x AS DOUBLE) / CAST(nf AS DOUBLE) AS REAL) END) AS vs FROM nm)""".stripMargin

  /** q49b replay: the hashing-trick encoder — per-TOKEN Java
    * hashCode fold → splitmix64 (salt 0x5eed = 24301) → component
    * index (bits 1.. mod 64) and sign (bit 0) → exact integer signed
    * counts per component → the q49 normalize arithmetic verbatim
    * (REAL casts of small integers are exact; double-compute-then-
    * REAL-cast for sqrt and the division). Docs with no non-empty
    * token keep an all-zero vector on both engines. Expects a CTE
    * `d(doc_id, text)`.
    */
  private def hashedEncodeReplayChain: String =
    s"""tk AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d) WHERE len(tok) > 0),
       |hjh AS (
       |  SELECT doc_id, list_reduce(
       |      list_prepend(0::HUGEINT,
       |        list_transform(range(1, length(tok)+1), i -> CAST(ord(substr(tok, CAST(i AS INT), 1)) AS HUGEINT))),
       |      (h, c) -> ((h * 31 + c + 2147483648) % 4294967296 + 4294967296) % 4294967296 - 2147483648) AS jh
       |  FROM tk),
       |hs0 AS (SELECT doc_id, CAST(((CAST(xor(CAST(jh AS BIGINT), 24301) AS HUGEINT) % 18446744073709551616) + 18446744073709551616) % 18446744073709551616 AS UBIGINT) AS u FROM hjh),
       |hs1 AS (SELECT doc_id, CAST((CAST(u AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS x1 FROM hs0),
       |hs2 AS (SELECT doc_id, ${umulSql("xor(x1, x1 >> 30)", 0xbf58476d1ce4e5b9L)} AS x2 FROM hs1),
       |hs3 AS (SELECT doc_id, ${umulSql("xor(x2, x2 >> 27)", 0x94d049bb133111ebL)} AS x3 FROM hs2),
       |hsd AS (SELECT doc_id, xor(x3, x3 >> 31) AS h FROM hs3),
       |hct AS (SELECT doc_id, CAST((h >> 1) % 64 AS INT) AS i,
       |        SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END) AS c
       |        FROM hsd GROUP BY doc_id, i),
       |hgrid AS (SELECT d.doc_id, r.b AS i FROM d, range(0, 64) r(b)),
       |hcf AS (SELECT g.doc_id, g.i, CAST(COALESCE(hct.c, 0) AS REAL) AS rf
       |        FROM hgrid g LEFT JOIN hct ON g.doc_id = hct.doc_id AND g.i = hct.i),
       |hrl AS (SELECT doc_id, list(rf ORDER BY i) AS rs FROM hcf GROUP BY doc_id),
       |hnm AS (SELECT doc_id, rs,
       |  CAST(sqrt(list_reduce(list_prepend(0.0, list_transform(rs, x -> CAST(x AS DOUBLE))), (a, x) -> a + x * x)) AS REAL) AS nf FROM hrl),
       |hvv AS (SELECT doc_id,
       |  list_transform(rs, x -> CASE WHEN nf = CAST(0.0 AS REAL) THEN CAST(0.0 AS REAL) ELSE CAST(CAST(x AS DOUBLE) / CAST(nf AS DOUBLE) AS REAL) END) AS vs FROM hnm)""".stripMargin

  // ── q67-family replay oracles (r15 graduation — the q19/q41 replay
  // argument extended to the full IVF-PQ pipeline: codebooks → codes →
  // LUT → ADC ranking). Every arithmetic step is engine-portable:
  //   · l2_sq (PqExpressions.L2Squared), and the per-codeword distance
  //     inside pq_encode (PqExpressions.PqEncode, whose argmin breaks
  //     ties to the lower code), is a SEQUENTIAL double fold
  //     over dsub=8 elements — replayed as a left-associated SQL sum of
  //     exact float→double element differences (SQL `+` parses
  //     left-associative, which IS the kernel's loop order, and IEEE
  //     double addition is deterministic given an order);
  //   · codebook refinement is q41's Lloyd arithmetic verbatim: decimal
  //     sums with the double-promoted float cast, ONE IEEE division, a
  //     float cast — plus the grid/sentinel/starvation structure of
  //     PQ.codebooks (never-seeded codes carry the Float.MaxValue
  //     far-point, starved codewords keep their previous-round
  //     centroid);
  //   · the ADC lookup-sum (PqExpressions.PqAdcScore) is the same
  //     left-fold over m=8 LUT reads, replayed by pivoting the m
  //     per-subspace distances to columns and summing left-associated;
  //   · the coarse quantizer at gate scales is the FLAT path (lists =
  //     max(16, n/125) ≤ 64 ⇔ corpus ≤ 8125 vectors — all gate SFs):
  //     member seeds (refinedCentroids at iters=0 — the seeds ARE the
  //     centroids) + rounded-cosine top-N with cell tie-break, the
  //     proven q19b pattern.
  // Valid at the wired defaults (m=8, kCodes=16, dsub=8, iters=1) and
  // the flat assignment path; beyond that the planted twin q67g and the
  // PqSpec value-identity laws remain the algorithm-independent anchors
  // (the q29b/q29d layering, documented in VERDICT r14 item 4). ────────

  /** L2Squared replay: left-fold of (a[i]-b[i])² over the dsub=8
    * elements, promoting each float through double exactly as the
    * kernel's getFloat(i).toDouble does.
    */
  private def pqL2Sql(a: String, b: String): String =
    (1 to 8).map(i =>
      s"((CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE)) * (CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE)))")
      .reduce((x, y) => s"($x + $y)")

  /** PQ.codebooks' FAR-POINT sentinel: Float.MaxValue components
    * (3.4028234663852886e38 is Float.MaxValue's shortest decimal —
    * the float cast recovers it exactly on both engines).
    */
  private val pqSentinelSql: String =
    Seq.fill(8)("CAST(3.4028234663852886e38 AS FLOAT)").mkString("[", ", ", "]")

  /** The PQ training + encode + LUT pipeline as WITH-clauses:
    * subvectors → residue seeds on the training corpus (`trainWhere`
    * filters it; empty = full corpus) → one Lloyd round of decimal
    * means with grid/sentinel/starvation fallback → final books →
    * `enc` (per-(vec,s) code over the FULL corpus — encoding is a pure
    * per-vector function of the frozen books, so encoding everything
    * and filtering later equals the engine's delta-only encode) and
    * `ld` (per-query LUT distances).
    */
  private def pqCtesSql(trainWhere: String): String =
    s"""subs AS (
       |  SELECT e.vec_id, CAST(t.s AS INT) AS s,
       |    list_slice(e.embedding, CAST(t.s*8+1 AS INT), CAST(t.s*8+8 AS INT)) AS sv
       |  FROM embeddings e, (SELECT unnest(range(8)) AS s) t),
       |tsubs AS (SELECT * FROM subs $trainWhere),
       |grid AS (SELECT CAST(a.s AS INT) AS s, CAST(b.code AS INT) AS code
       |         FROM (SELECT unnest(range(8)) AS s) a, (SELECT unnest(range(16)) AS code) b),
       |seeds AS (
       |  SELECT s, CAST(code AS INT) AS code, sv AS cvec FROM (
       |    SELECT s, vec_id % 16 AS code, sv,
       |      ROW_NUMBER() OVER (PARTITION BY s, vec_id % 16 ORDER BY vec_id) AS rn
       |    FROM tsubs) t WHERE rn = 1),
       |b0 AS (
       |  SELECT g.s, g.code, COALESCE(sd.cvec, $pqSentinelSql) AS cvec
       |  FROM grid g LEFT JOIN seeds sd ON sd.s = g.s AND sd.code = g.code),
       |a1 AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT u.vec_id, u.s, b.code,
       |      ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.s ORDER BY ${pqL2Sql("u.sv", "b.cvec")}, b.code) AS rk
       |    FROM tsubs u JOIN b0 b ON b.s = u.s) t WHERE rk = 1),
       |rx AS (
       |  SELECT a.s, a.code, unnest(u.sv) AS v, unnest(range(len(u.sv))) AS pos
       |  FROM a1 a JOIN tsubs u ON u.vec_id = a.vec_id AND u.s = a.s),
       |rm AS (
       |  SELECT s, code, pos,
       |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
       |  FROM rx GROUP BY s, code, pos),
       |rl AS (SELECT s, code, list(CAST(c AS FLOAT) ORDER BY pos) AS cvec FROM rm GROUP BY s, code),
       |books AS (
       |  SELECT g.s, g.code, COALESCE(r.cvec, p.cvec) AS cvec
       |  FROM grid g LEFT JOIN rl r ON r.s = g.s AND r.code = g.code
       |  LEFT JOIN b0 p ON p.s = g.s AND p.code = g.code),
       |enc AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT u.vec_id, u.s, b.code,
       |      ROW_NUMBER() OVER (PARTITION BY u.vec_id, u.s ORDER BY ${pqL2Sql("u.sv", "b.cvec")}, b.code) AS rk
       |    FROM subs u JOIN books b ON b.s = u.s) t WHERE rk = 1),
       |ld AS (
       |  SELECT u.vec_id AS query_id, u.s, b.code, ${pqL2Sql("u.sv", "b.cvec")} AS d
       |  FROM subs u JOIN books b ON b.s = u.s WHERE u.vec_id < 5)""".stripMargin

  /** The IVF half of q67b/q67f: member-seeded cells over `temb` (the
    * structure-training corpus, supplied as a CTE by the caller),
    * top-1 assignment of the FULL corpus to the frozen cells, top-3
    * query probes, and the cell-pruned candidate `pairs`.
    */
  private val pqIvfCtesSql: String =
    """p0 AS (SELECT GREATEST(16, CAST(COUNT(*) // 125 AS INT)) AS lists FROM temb),
      |cseeds AS (
      |  SELECT cell, cvec FROM (
      |    SELECT CAST(e.vec_id % p.lists AS INT) AS cell, e.embedding AS cvec,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id % p.lists ORDER BY e.vec_id) AS rn
      |    FROM temb e, p0 p) t WHERE rn = 1),
      |vcell AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) AS rk
      |    FROM embeddings e, cseeds c) t WHERE rk = 1),
      |qprobe AS (
      |  SELECT vec_id AS query_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) AS rk
      |    FROM embeddings e, cseeds c WHERE e.vec_id < 5) t WHERE rk <= 3),
      |pairs AS (
      |  SELECT qp.query_id, vc.vec_id
      |  FROM qprobe qp JOIN vcell vc ON vc.cell = qp.cell
      |  WHERE vc.vec_id <> qp.query_id)""".stripMargin

  /** PqAdcScore replay over the candidate `pairs`: join each pair's m
    * per-subspace LUT distances, pivot to columns, sum left-associated
    * (the kernel's s=0..7 accumulation order), round to 6dp, rank.
    */
  private val pqAdcTailSql: String = {
    val seqSum = (0 until 8).map(s => s"MAX(CASE WHEN s = $s THEN d END)")
      .reduce((a, b) => s"($a + $b)")
    s"""pd AS (
       |  SELECT p.query_id, p.vec_id, e.s, l.d
       |  FROM pairs p JOIN enc e ON e.vec_id = p.vec_id
       |  JOIN ld l ON l.query_id = p.query_id AND l.s = e.s AND l.code = e.code),
       |adc AS (
       |  SELECT query_id, vec_id, round($seqSum, 6) AS adc
       |  FROM pd GROUP BY query_id, vec_id)
       |SELECT query_id, vec_id, adc, CAST(rk AS INT) AS rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk FROM adc) t
       |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin
  }

  /** q67/q67c: full-corpus PQ scan — every (query, corpus) pair. */
  private def pqTopKSql: String =
    s"""WITH ${pqCtesSql("")},
       |pairs AS (
       |  SELECT q.vec_id AS query_id, e.vec_id
       |  FROM embeddings q, embeddings e
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |$pqAdcTailSql""".stripMargin

  /** q67b/q67d (trainWhere = ""): structure + books over the full
    * corpus. q67f (trainWhere = the base filter): structure + books
    * frozen on the base corpus, all vectors assigned/encoded under
    * them — increments commute, so base ∪ delta equals the full
    * frozen-structure scan the engine's probe performs.
    */
  private def pqIvfTopKSql(trainWhere: String): String =
    s"""WITH ${pqCtesSql(trainWhere)},
       |temb AS (SELECT vec_id, embedding FROM embeddings $trainWhere),
       |$pqIvfCtesSql,
       |$pqAdcTailSql""".stripMargin

  /** q67e: the delta's codes under base-frozen books, printed exactly
    * as the Spark side's to_json(ARRAY<INT>).
    */
  private def pqEncodeIncrSql: String =
    s"""WITH ${pqCtesSql("WHERE vec_id % 16 <> 0")}
       |SELECT vec_id, '[' || string_agg(CAST(code AS VARCHAR), ',' ORDER BY s) || ']' AS codes_csv
       |FROM enc WHERE vec_id % 16 = 0 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST('1.00' AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"

  /** Shared session-assignment subquery: gap > windowMs ⇒ break,
    * running sum of breaks per user = session id (epoch-ms space).
    */
  private def sessionsCte(windowMs: Long): String =
    s"""SELECT event_id, user_id, event_type, value, ts_ms,
       |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
       |FROM (
       |  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > $windowMs THEN 1 ELSE 0 END AS brk
       |  FROM (
       |    SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms,
       |      LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
       |    FROM events) a) b""".stripMargin

  private val q63Sql =
    s"""WITH q AS (
       |  SELECT doc_id, round(CAST(n_stop AS DOUBLE) / wc * 0.5 + LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 500.0) * 0.5, 6) AS quality
       |  FROM (SELECT doc_id, text, $wcSql AS wc,
       |        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to'))) AS n_stop
       |        FROM documents) t),
       |b AS (SELECT d.lang, q.doc_id, q.quality,
       |  ntile(10) OVER (PARTITION BY d.lang ORDER BY q.quality DESC, q.doc_id) AS bin
       |  FROM q JOIN documents d ON q.doc_id = d.doc_id)
       |SELECT lang, CAST(bin AS INT) AS bin, COUNT(*) AS n_docs, MIN(quality) AS min_q, MAX(quality) AS max_q
       |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin

  /** q79b is funnelDelta probing the persisted FunnelIndex — value-
    * identical by contract (FunnelIndexSpec pins row equality), so it
    * shares q79's oracle verbatim.
    */
  def oracleSql: Map[String, String] =
    oracleSqlBase ++ Map(
      "q79b_funnel_indexed" -> oracleSqlBase("q79_funnel_delta"),
      // q77b computes each gate's signal with the standalone
      // operator's own expressions, just off one shared scan — the
      // verdict per doc is unchanged by construction, so it shares
      // q77's oracle verbatim
      "q77b_funnel_onescan" -> oracleSqlBase("q77_curation_funnel"),
      // the streaming entries CERTIFY stream ≡ batch under the hard
      // gate: the closed-session stream rollup shares q01c's oracle,
      // the online funnel shares q79's (ascending arrival order makes
      // ingest-time first-writer-wins agree with batch id order)
      "q80_stream_sessions" -> oracleSqlBase("q01c_sessions_native"),
      // q80c: same oracle — the row certifies the RocksDB state
      // backend produces the identical closed-session rollup
      "q80c_sessions_rocks" -> oracleSqlBase("q01c_sessions_native"),
      // q80d: Spark's built-in session_window under the same oracle
      "q80d_sessions_native" -> oracleSqlBase("q01c_sessions_native"),
      "q80b_stream_funnel" -> oracleSqlBase("q79_funnel_delta"),
      "q83_stream_dedup" -> oracleSqlBase("q27b_minhash_planted"),
      // q83b/q85b: same oracles — the rows certify the RocksDB
      // backend under the dedup-signature and thread-root state maps
      // (the two large keyed maps SURVEY §G routes off-heap)
      "q83b_dedup_rocks" -> oracleSqlBase("q27b_minhash_planted"),
      // q83c: the signature screen + exact verify must reproduce the
      // SAME pair set — brute-force truth is screen-independent
      "q83c_dedup_signature" -> oracleSqlBase("q27b_minhash_planted"),
      "q84_stream_decontam" -> oracleSqlBase("q54_decontam"),
      "q85_stream_threads" -> oracleSqlBase("q56_reply_threads"),
      "q85b_threads_rocks" -> oracleSqlBase("q56_reply_threads"),
      // q89: append-mode tumbling windows ≡ the batch GROUP BY on
      // epoch-floored 5-minute buckets (Spark's window() is epoch-
      // aligned; DuckDB replays the same integer arithmetic)
      "q89_stream_windowed" ->
        """SELECT (epoch_ms(ts) // 300000) * 300000 AS win_start_ms,
          |  event_type AS kind, COUNT(*) AS n
          |FROM events
          |GROUP BY 1, 2
          |ORDER BY win_start_ms, kind""".stripMargin,
      // q86: the parser round-trip must reproduce this projection of
      // `events` exactly (chat = user, min-messages as HAVING,
      // from_id prefix stripped back to the numeric id, date at
      // second precision — the export format's granularity)
      // q87: the incremental path must reproduce the FULL batch
      // sessionization (q01's oracle verbatim) despite the corrupted
      // dirty-user stored rows it is handed
      "q87_resessionize" -> oracleSqlBase("q01_temporal_sessions"),
      "q86_source_roundtrip" ->
        """WITH el AS (SELECT user_id, event_id, props,
          |         epoch_ms(ts) // 1000 AS sec FROM events),
          |big AS (SELECT user_id FROM el GROUP BY user_id HAVING COUNT(*) >= 3)
          |SELECT e.user_id AS chat_id, 'u' || e.user_id AS chat_name,
          |  e.event_id AS message_id, e.user_id AS from_id,
          |  e.props AS text, e.sec
          |FROM el e JOIN big b ON e.user_id = b.user_id
          |ORDER BY chat_id, message_id""".stripMargin,
      // q86b: the HTML shard parser's extraction must reproduce the
      // serialized fields verbatim (timestamp title string at second
      // precision, from_name, text div, 'text' classification)
      "q86b_source_html" ->
        """SELECT strftime(ts, '%d.%m.%Y %H:%M:%S') AS "timestamp",
          |  'u' || user_id AS author, props AS text,
          |  'text' AS message_type
          |FROM events
          |ORDER BY "timestamp", author, text""".stripMargin,
      // q86c: the COMPOSED ingest pipeline (serialize → parse →
      // normalize → sessionize → author-run concat) replayed stage by
      // stage: second-precision date parse (// 1000 * 1000), the
      // 30-min session gap, run breaks on author change OR session
      // break (the alternating-parity authors make both live), and
      // the (ts, id)-ordered '. ' text join
      "q86c_source_pipeline" ->
        """WITH el AS (
          |  SELECT user_id, event_id, props,
          |    (epoch_ms(ts) // 1000) * 1000 AS ts_ms,
          |    CASE WHEN event_id % 2 = 0 THEN user_id
          |         ELSE user_id + 1000000000 END AS author,
          |    CASE WHEN event_id % 2 = 0 THEN 'u' || user_id
          |         ELSE 'v' || user_id END AS aname
          |  FROM events),
          |big AS (SELECT user_id FROM el GROUP BY user_id HAVING COUNT(*) >= 3),
          |lagd AS (
          |  SELECT e.*,
          |    LAG(ts_ms) OVER w AS prev_ms,
          |    LAG(author) OVER w AS prev_author
          |  FROM el e JOIN big b ON e.user_id = b.user_id
          |  WINDOW w AS (PARTITION BY e.user_id ORDER BY ts_ms, event_id)),
          |sess AS (
          |  SELECT *, CAST(SUM(CASE WHEN prev_ms IS NULL
          |        OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
          |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |  FROM lagd),
          |runs AS (
          |  SELECT *, CAST(SUM(CASE WHEN prev_ms IS NULL
          |        OR ts_ms - prev_ms > 1800000
          |        OR prev_author <> author THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
          |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
          |  FROM sess)
          |SELECT user_id AS chat_id, run_id, MIN(session_id) AS session_id,
          |  MIN(author) AS from_id, MIN(aname) AS from_name,
          |  COUNT(*) AS n_messages, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
          |  STRING_AGG(props, '. ' ORDER BY ts_ms, event_id) AS text
          |FROM runs GROUP BY user_id, run_id
          |ORDER BY chat_id, run_id""".stripMargin,
      // q86d: chatSummary over the same two-participant export —
      // count / distinct-author / time-range aggregation on the
      // parsed frame, replayed from `events` with the parity authors
      "q86d_chat_summary" ->
        """WITH el AS (
          |  SELECT user_id, event_id, (epoch_ms(ts) // 1000) * 1000 AS ts_ms,
          |    CASE WHEN event_id % 2 = 0 THEN user_id
          |         ELSE user_id + 1000000000 END AS author
          |  FROM events),
          |big AS (SELECT user_id FROM el GROUP BY user_id HAVING COUNT(*) >= 3)
          |SELECT e.user_id AS chat_id, 'u' || e.user_id AS chat_name,
          |  COUNT(*) AS n_messages, COUNT(DISTINCT author) AS n_authors,
          |  MIN(ts_ms) AS first_ms, MAX(ts_ms) AS last_ms
          |FROM el e JOIN big b ON e.user_id = b.user_id
          |GROUP BY e.user_id
          |ORDER BY chat_id""".stripMargin,
      // q56c: the planted forward frame replayed, the operator's
      // rank + tie order (n DESC, forwarded_from ASC) verbatim
      "q56c_forward_sources" ->
        """WITH f AS (
          |  SELECT user_id AS chat_id, 'src' || (event_id % 13) AS forwarded_from
          |  FROM events WHERE event_id % 7 = 0),
          |g AS (SELECT chat_id, forwarded_from, COUNT(*) AS n FROM f GROUP BY 1, 2),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY chat_id
          |        ORDER BY n DESC, forwarded_from) AS rk FROM g)
          |SELECT chat_id, forwarded_from, n, rk FROM r WHERE rk <= 5
          |ORDER BY chat_id, rk""".stripMargin)

  /** q19b's oracle, also q48's: the persisted-index probe is
    * value-identical to the per-query seeded IVF (VectorIndexSpec).
    */
  private val annIvfSeededSql: String =
    """WITH seeds AS (
       |  SELECT label, embedding FROM (
       |    SELECT label, embedding, ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
       |    FROM embeddings) s WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, label FROM (
       |    SELECT q.vec_id AS query_id, s.label,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(s.embedding AS DOUBLE[])), 6) DESC, s.label) AS crk
       |    FROM embeddings q, seeds s WHERE q.vec_id < 5) p
       |  WHERE crk <= 3),
       |cand AS (
       |  SELECT p.query_id, e.vec_id, e.label,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qq.embedding AS DOUBLE[])), 6) AS sim
       |  FROM probes p
       |  JOIN embeddings e ON e.label = p.label
       |  JOIN embeddings qq ON qq.vec_id = p.query_id
       |  WHERE e.vec_id <> p.query_id)
       |SELECT query_id, vec_id, label, sim, CAST(rk AS INT) AS rk FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM cand) t
       |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  private val oracleSqlBase: Map[String, String] = Map(
    "q01_temporal_sessions" ->
      s"""SELECT event_id, user_id, session_id
         |FROM (${sessionsCte(1800000)}) s
         |ORDER BY user_id, session_id, event_id""".stripMargin,
    "q01b_sessions_chunked" ->
      s"""SELECT event_id, user_id, session_id
         |FROM (${sessionsCte(1800000)}) s
         |ORDER BY user_id, session_id, event_id""".stripMargin,
    "q01c_sessions_native" ->
      s"""SELECT user_id, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
         |  COUNT(*) AS n_events
         |FROM (${sessionsCte(1800000)}) s
         |GROUP BY user_id, session_id
         |ORDER BY user_id, start_ms""".stripMargin,
    "q02_session_stats" ->
      s"""SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
         |  MAX(ts_ms) - MIN(ts_ms) AS duration_ms,
         |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
         |  COUNT(DISTINCT event_type) AS n_kinds
         |FROM (${sessionsCte(1800000)}) s
         |GROUP BY user_id, session_id
         |HAVING COUNT(*) >= 3
         |ORDER BY user_id, session_id""".stripMargin,
    "q03_concat_runs" ->
      """SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
        |  MIN(event_type) AS event_type, COUNT(*) AS n, MIN(ts_ms) AS start_ms,
        |  string_agg(props, '. ' ORDER BY ts_ms, event_id) AS joined_props
        |FROM (
        |  SELECT *, SUM(run_brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM (
        |    SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 300000 OR prev_kind IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS run_brk
        |    FROM (
        |      SELECT event_id, user_id, event_type, props, epoch_ms(ts) AS ts_ms,
        |        LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms,
        |        LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_kind
        |      FROM events) a) b) c
        |GROUP BY user_id, run_id
        |ORDER BY user_id, run_id""".stripMargin,
    "q04_largest_sessions" ->
      s"""SELECT user_id, session_id, COUNT(*) AS size,
         |  MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
         |FROM (${sessionsCte(1800000)}) s
         |GROUP BY user_id, session_id
         |HAVING COUNT(*) >= 2
         |ORDER BY size DESC, user_id, session_id
         |LIMIT 20""".stripMargin,
    "q05_activity_heatmap" ->
      """SELECT dayofweek(ts) AS dow, hour(ts) AS hour_of_day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY dayofweek(ts), hour(ts)
        |ORDER BY dow, hour_of_day""".stripMargin,
    // q88: the quantile intensity mapping over the full 7x24 grid —
    // quartiles of NON-ZERO cell counts (quantile_cont ≡ Spark's
    // exact percentile, the q07 equivalence), class 0 for empty cells
    "q88_heatmap_intensity" ->
      """WITH cells AS (
        |  SELECT dayofweek(ts) AS dow, hour(ts) AS hour_of_day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.dow, h.hour_of_day
        |  FROM (SELECT unnest(generate_series(0, 6)) AS dow) d,
        |       (SELECT unnest(generate_series(0, 23)) AS hour_of_day) h),
        |q AS (
        |  SELECT quantile_cont(n, 0.25) AS q25, quantile_cont(n, 0.5) AS q50,
        |         quantile_cont(n, 0.75) AS q75
        |  FROM cells WHERE n > 0)
        |SELECT CAST(g.dow AS INT) AS dow, CAST(g.hour_of_day AS INT) AS hour_of_day,
        |  COALESCE(c.n, 0) AS n_events,
        |  CAST(CASE WHEN COALESCE(c.n, 0) = 0 THEN 0
        |       WHEN c.n <= q.q25 THEN 1
        |       WHEN c.n <= q.q50 THEN 2
        |       WHEN c.n <= q.q75 THEN 3
        |       ELSE 4 END AS INT) AS intensity
        |FROM grid g LEFT JOIN cells c ON g.dow = c.dow AND g.hour_of_day = c.hour_of_day
        |CROSS JOIN q
        |ORDER BY dow, hour_of_day""".stripMargin,
    "q06_user_stats" ->
      """SELECT user_id, COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_kinds,
        |  MIN(epoch_ms(ts)) AS first_seen_ms, MAX(epoch_ms(ts)) AS last_seen_ms,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q08_long_groups" ->
      """WITH f AS (
        |  SELECT user_id, event_type, value, epoch_ms(ts) AS ts_ms, event_id
        |  FROM events WHERE value >= 50.0),
        |d AS (SELECT *, LAG(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ms FROM f),
        |b AS (SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 3600000 THEN 1 ELSE 0 END AS brk FROM d),
        |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS tmp_group FROM b),
        |s AS (
        |  SELECT user_id, tmp_group, COUNT(*) AS n_events, MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |    COUNT(DISTINCT event_type) AS n_kinds,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |  FROM g GROUP BY user_id, tmp_group HAVING COUNT(*) >= 3)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY start_ms, user_id) - 1 AS INT) AS group_id,
        |  user_id, n_events, start_ms, end_ms, total_value, n_kinds, avg_value
        |FROM s ORDER BY group_id""".stripMargin,
    "q07_word_quantiles" ->
      s"""SELECT MIN(wc) AS min_wc,
         |  quantile_cont(wc, 0.25) AS q25, quantile_cont(wc, 0.5) AS median,
         |  quantile_cont(wc, 0.75) AS q75, quantile_cont(wc, 0.9) AS q90,
         |  quantile_cont(wc, 0.95) AS q95, quantile_cont(wc, 0.997) AS q997,
         |  MAX(wc) AS max_wc,
         |  CAST(SUM(wc) AS DOUBLE) / COUNT(*) AS mean_wc
         |FROM (SELECT $wcSql AS wc FROM documents
         |      WHERE text IS NOT NULL AND LENGTH(TRIM(text)) > 0) t""".stripMargin,
    "q25_dedup_exact" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n, MIN(doc_id) AS keep_doc_id
        |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin,
    "q26_dedup_ngram" ->
      s"""WITH t AS (
         |  SELECT doc_id, $shinglesSql AS sh FROM documents),
         |b AS (SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk FROM t)
         |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, c.sh))), 6) AS jac
         |FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
         |WHERE round(CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, c.sh))), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q40_dedup_allpairs" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_sort($shinglesSql) AS sh FROM documents),
         |s AS (SELECT doc_id, sh, len(sh) AS n FROM t WHERE len(sh) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) AS jac
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,
    // q27: GRADUATED r15 — brute-force all-pairs Jaccard at the same
    // 0.5 threshold (q27b's proven oracle minus the planted union).
    // Stronger than a hash replay: it is ALGORITHM-INDEPENDENT truth —
    // passing certifies the 8×4 MinHash banding recovered EVERY
    // qualifying pair on the gate corpora. Recall there is
    // deterministic (fixed texts + fixed hashes → fixed outcome), but
    // NOT implied by the jac levels alone: the sf0.1 corpus holds two
    // true pairs in the [0.5,0.9) danger band (j=0.889/0.818, r16
    // finding) that the banding happens to recover — so recovery is
    // verified DIRECTLY per corpus by the GateInvariants pre-flight
    // (Verify) and spec-pinned at sf0.1; a datagen flip fails there
    // with the missed pairs named, never silently here.
    "q27_dedup_minhash" ->
      s"""WITH t AS (SELECT doc_id, list_sort($shinglesSql) AS sh FROM documents),
         |s AS (SELECT doc_id, sh, len(sh) AS n FROM t WHERE len(sh) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) AS jac
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // q28: GRADUATED r15 — the 64-bit SimHash sketch REPLAYED in
    // DuckDB SQL (the q19/q41/q67 replay argument applied to hash
    // bits, which q28's output exposes as `hamming`): FNV-1a per
    // shingle as a list_reduce byte fold, the splitmix64 finalizer as
    // three umulSql steps, 64 per-bit votes, sign → sig; pairs = any
    // of the four 16-bit bands equal AND bit_count(xor) ≤ 16 — the
    // operator's own candidate/verify rule stated on the replayed
    // sigs. Integer-only end to end (wrapping multiplies via umulSql),
    // so cross-engine agreement is exact, not approximate.
    // PRECONDITION (documented like khash's non-negative ids):
    // ord(char) == utf8 byte requires ASCII text — verified true of
    // every gate corpus at all three SFs; non-ASCII input would FAIL
    // loudly as a signature mismatch, never pass silently.
    "q28_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
         |sh AS (SELECT doc_id, unnest(sh) AS s FROM t WHERE len(sh) > 0),
         |fnv AS (
         |  SELECT doc_id, list_reduce(
         |      list_prepend(14695981039346656037::UBIGINT,
         |        list_transform(range(1, length(s)+1), i -> CAST(ord(substr(s, CAST(i AS INT), 1)) AS UBIGINT))),
         |      (h, b) -> ${umulSql("xor(h, b)", 0x100000001b3L)}) AS h0
         |  FROM sh),
         |m1 AS (SELECT doc_id, CAST((CAST(h0 AS HUGEINT) + 11400714819323198485) % 18446744073709551616 AS UBIGINT) AS x1 FROM fnv),
         |m2 AS (SELECT doc_id, ${umulSql("xor(x1, x1 >> 30)", 0xbf58476d1ce4e5b9L)} AS x2 FROM m1),
         |m3 AS (SELECT doc_id, ${umulSql("xor(x2, x2 >> 27)", 0x94d049bb133111ebL)} AS x3 FROM m2),
         |mx AS (SELECT doc_id, xor(x3, x3 >> 31) AS h FROM m3),
         |votes AS (
         |  SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM mx, range(0, 64) r(b) GROUP BY doc_id, b),
         |sig AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN CAST(1::UBIGINT << CAST(b AS INT) AS HUGEINT) ELSE 0 END) AS UBIGINT) AS u
         |  FROM votes GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(bit_count(xor(a.u, b.u)) AS INT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.u, b.u)) <= 16
         |  AND ((a.u & 65535) = (b.u & 65535)
         |    OR ((a.u >> 16) & 65535) = ((b.u >> 16) & 65535)
         |    OR ((a.u >> 32) & 65535) = ((b.u >> 32) & 65535)
         |    OR ((a.u >> 48) & 65535) = ((b.u >> 48) & 65535))
         |ORDER BY doc_a, doc_b""".stripMargin,
    // q27b/q28b: LSH over documents + planted verbatim copies. The
    // oracles are hash-free (brute-force Jaccard / shingle-set
    // equality); they are exact because banding recovery on these
    // corpora is deterministic and certain — see the operator docs.
    "q27b_minhash_planted" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0),
         |t AS (SELECT doc_id, list_sort($shinglesSql) AS sh FROM u),
         |s AS (SELECT doc_id, sh, len(sh) AS n FROM t WHERE len(sh) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) AS jac
         |FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q28b_simhash_exact" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0),
         |t AS (SELECT doc_id, list_sort($shinglesSql) AS sh FROM u),
         |s AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INT) AS hamming
         |FROM s a JOIN s b ON a.doc_id < b.doc_id AND a.sh = b.sh
         |ORDER BY doc_a, doc_b""".stripMargin,
    // q83d: the streaming corpus gate replayed — quality filter
    // (reference word-count formula + length score), then the
    // first-writer-wins exact-dup gate as min-doc_id-per-content-hash
    // (ascending arrival ⇒ first writer IS the min id). Same planted
    // union as q27b so the dup state is non-vacuous at every SF.
    "q83d_stream_gate" ->
      s"""WITH u AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0),
         |s AS (SELECT doc_id, text, $wcSql AS wc FROM u),
         |f AS (SELECT doc_id, text, wc FROM s
         |      WHERE wc > 0 AND LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 500.0) >= 0.1),
         |w AS (SELECT doc_id, wc, md5(text) AS text_hash,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk FROM f)
         |SELECT doc_id, CAST(wc AS INT) AS wc, text_hash FROM w WHERE rk = 1
         |ORDER BY doc_id""".stripMargin,
    // q90: embedNew replayed — kept store rows pass through
    // byte-identical (their probe columns read straight off the
    // embeddings table), the delta (doc_ids missing from the kept
    // store) re-encodes via q49's replay chain verbatim.
    "q90_embed_new" ->
      s"""WITH kept AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 16 <> 0),
         |d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents
         |      WHERE doc_id NOT IN (SELECT vec_id FROM kept)),
         |$encodeReplayChain
         |SELECT vec_id, dim, v0, comp_sum FROM (
         |  SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
         |    CAST(embedding[1] AS DOUBLE) AS v0,
         |    list_reduce(list_prepend(0.0, list_transform(embedding, x -> CAST(x AS DOUBLE))), (a, x) -> a + x) AS comp_sum
         |  FROM kept
         |  UNION ALL
         |  SELECT doc_id AS vec_id, CAST(64 AS INT) AS dim, CAST(vs[1] AS DOUBLE) AS v0,
         |    list_reduce(list_prepend(0.0, list_transform(vs, x -> CAST(x AS DOUBLE))), (a, x) -> a + x) AS comp_sum
         |  FROM vv) t
         |ORDER BY vec_id""".stripMargin,
    "q29_dedup_embedding" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q53_dup_clusters" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, $shinglesSql AS sh FROM documents),
         |b AS (SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk FROM t),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
         |  FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
         |  WHERE round(CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, c.sh))), 6) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach AS (
         |  SELECT a AS id, a AS lbl FROM edges
         |  UNION
         |  SELECT e.a AS id, r.lbl FROM edges e JOIN reach r ON r.id = e.b),
         |comp AS (SELECT id, MIN(lbl) AS rep FROM reach GROUP BY id),
         |sz AS (SELECT rep, COUNT(*) AS n FROM comp GROUP BY rep)
         |SELECT c.id AS doc_id, c.rep AS cluster_rep, sz.n AS cluster_size, (c.id = c.rep) AS is_keep
         |FROM comp c JOIN sz ON c.rep = sz.rep
         |ORDER BY cluster_rep, doc_id""".stripMargin,
    // q75: q53's CC fixpoint + q71's integer rule count; canonical =
    // first under the total order (n_pass DESC, wc DESC, doc_id ASC).
    "q75_cluster_reps" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, $shinglesSql AS sh FROM documents),
         |b AS (SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk FROM t),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
         |  FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
         |  WHERE round(CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, c.sh))), 6) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach AS (
         |  SELECT a AS id, a AS lbl FROM edges
         |  UNION
         |  SELECT e.a AS id, r.lbl FROM edges e JOIN reach r ON r.id = e.b),
         |comp AS (SELECT id, MIN(lbl) AS rep FROM reach GROUP BY id),
         |sz AS (SELECT rep, COUNT(*) AS n FROM comp GROUP BY rep),
         |d AS (SELECT doc_id, text, string_split(text, ' ') AS ws,
         |      string_split(text, chr(10)) AS ls FROM documents),
         |q AS (SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS wc,
         |    (CAST(len(ws) BETWEEN 30 AND 100000 AS INT)
         |     + CAST(list_sum(list_transform(ws, x -> len(x))) * 10 >= len(ws) * 42
         |            AND list_sum(list_transform(ws, x -> len(x))) * 10 <= len(ws) * 100 AS INT)
         |     + CAST((len(text) - len(replace(text, '#', ''))
         |            + (len(text) - len(replace(text, '...', ''))) // 3) * 10 <= len(ws) AS INT)
         |     + CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) * 5 >= len(ws) * 4 AS INT)
         |     + CAST(len(list_filter(['the', 'a'], w -> list_contains(ws, w))) >= 2 AS INT)
         |     + CAST(len(list_filter(ls, l -> substring(l, 1, 2) = '- '
         |            OR substring(l, 1, 2) = '* ')) * 10 <= len(ls) AS INT)
         |     + CAST(len(list_filter(ls, l -> right(l, 3) = '...')) * 10 <= len(ls) * 3 AS INT)) AS n_pass
         |  FROM d),
         |m AS (SELECT c.id AS doc_id, c.rep, sz.n, q.n_pass, q.wc
         |      FROM comp c JOIN sz ON c.rep = sz.rep JOIN q ON q.doc_id = c.id),
         |w AS (SELECT m.*, FIRST_VALUE(doc_id) OVER (
         |        PARTITION BY rep ORDER BY n_pass DESC, wc DESC, doc_id ASC) AS canon FROM m)
         |SELECT doc_id, rep AS cluster_rep, n AS cluster_size, n_pass, wc,
         |  (doc_id = canon) AS is_canonical
         |FROM w ORDER BY cluster_rep, doc_id""".stripMargin,
    // q79: the delta funnel — q74's rule CTE restricted to the delta,
    // md5 twin probe with the first-writer partner rule, q26's
    // min-shingle blocking (list_aggregate min = Spark's sorted
    // element_at(sh,1)), q54's contamination CTE restricted to the
    // delta. History (any id) beats an arrival; earlier delta ids
    // beat later ones.
    "q79_funnel_delta" ->
      s"""WITH et AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws,
         |         string_split(text, chr(10)) AS ls FROM documents WHERE doc_id % 16 = 0),
         |es AS (SELECT doc_id, source,
         |    CAST(len(ws) AS BIGINT) AS wc,
         |    CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS n_chars,
         |    CAST(len(text) - len(replace(text, '#', ''))
         |         + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
         |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(['the', 'a'], w -> list_contains(ws, w))) AS BIGINT) AS n_stop,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(ls, l -> substring(l, 1, 2) = '- '
         |         OR substring(l, 1, 2) = '* ')) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(ls, l -> right(l, 3) = '...')) AS BIGINT) AS n_ellipsis
         |  FROM et),
         |ep AS (SELECT doc_id, source,
         |    (CAST(wc BETWEEN 30 AND 100000 AS INT)
         |     + CAST(n_chars * 10 >= wc * 42 AND n_chars * 10 <= wc * 100 AS INT)
         |     + CAST(n_sym * 10 <= wc AS INT)
         |     + CAST(n_alpha * 5 >= wc * 4 AS INT)
         |     + CAST(n_stop >= 2 AS INT)
         |     + CAST(n_bullet * 10 <= n_lines AS INT)
         |     + CAST(n_ellipsis * 10 <= n_lines * 3 AS INT)) AS n_pass
         |  FROM es),
         |eex AS (SELECT n.doc_id FROM documents n JOIN documents o
         |          ON md5(n.text) = md5(o.text) AND o.doc_id <> n.doc_id
         |        WHERE n.doc_id % 16 = 0 AND (o.doc_id % 16 <> 0 OR o.doc_id < n.doc_id)
         |        GROUP BY n.doc_id),
         |sht AS (SELECT doc_id, $shinglesSql AS sh FROM documents
         |        WHERE len(string_split(text, ' ')) >= 2),
         |shb AS (SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk FROM sht),
         |enear AS (SELECT d.doc_id
         |  FROM shb d JOIN shb o ON d.blk = o.blk AND o.doc_id <> d.doc_id
         |  WHERE d.doc_id % 16 = 0 AND (o.doc_id % 16 <> 0 OR o.doc_id < d.doc_id)
         |    AND round(CAST(len(list_intersect(d.sh, o.sh)) AS DOUBLE)
         |              / len(list_distinct(list_concat(d.sh, o.sh))), 6) >= 0.5
         |  GROUP BY d.doc_id),
         |eg AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
         |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g3
         |  FROM documents),
         |ebench AS (SELECT DISTINCT unnest(g3) AS gr FROM eg WHERE doc_id % 97 = 0),
         |etrain AS (SELECT doc_id, g3, len(g3) AS n_grams FROM eg
         |           WHERE doc_id % 97 <> 0 AND doc_id % 16 = 0),
         |eexg AS (SELECT doc_id, unnest(g3) AS gr FROM etrain),
         |eov AS (SELECT e.doc_id, COUNT(b.gr) AS n_overlap
         |        FROM eexg e LEFT JOIN ebench b ON e.gr = b.gr GROUP BY e.doc_id),
         |econtam AS (SELECT tr.doc_id,
         |    COALESCE(CASE WHEN tr.n_grams = 0 THEN NULL
         |         ELSE CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / tr.n_grams END >= 0.3, FALSE) AS contaminated
         |  FROM etrain tr LEFT JOIN eov o ON tr.doc_id = o.doc_id)
         |SELECT ep.doc_id, ep.source, ep.n_pass,
         |  (ep.doc_id % 97 = 0) AS is_bench,
         |  (eex.doc_id IS NOT NULL) AS is_exact_dup,
         |  (enear.doc_id IS NOT NULL) AS is_near_dup,
         |  COALESCE(econtam.contaminated, FALSE) AS contaminated,
         |  CASE WHEN ep.doc_id % 97 = 0 THEN 'benchmark'
         |       WHEN ep.n_pass < 6 THEN 'quality'
         |       WHEN eex.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN enear.doc_id IS NOT NULL THEN 'near_dup'
         |       WHEN COALESCE(econtam.contaminated, FALSE) THEN 'contaminated'
         |       ELSE 'admitted' END AS stage
         |FROM ep
         |LEFT JOIN eex ON eex.doc_id = ep.doc_id
         |LEFT JOIN enear ON enear.doc_id = ep.doc_id
         |LEFT JOIN econtam ON econtam.doc_id = ep.doc_id
         |ORDER BY ep.doc_id""".stripMargin,
    // q77: the funnel composes q74's scoring+budget CTEs, q25's
    // min-id-per-content-hash rule, q75's recursive-CTE clusters +
    // quality-aware canonical (reusing the SAME fp CTE for n_pass —
    // one rule definition in the oracle too), and q54's exact
    // contamination, joined per doc. Verdict = first failed gate in
    // the fixed order; all parts individually oracle-exact.
    "q77_curation_funnel" ->
      s"""WITH RECURSIVE ft AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws,
         |         string_split(text, chr(10)) AS ls FROM documents),
         |fs AS (SELECT doc_id, source,
         |    CAST(len(ws) AS BIGINT) AS wc,
         |    CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS n_chars,
         |    CAST(len(text) - len(replace(text, '#', ''))
         |         + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
         |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter(['the', 'a'], w -> list_contains(ws, w))) AS BIGINT) AS n_stop,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(ls, l -> substring(l, 1, 2) = '- '
         |         OR substring(l, 1, 2) = '* ')) AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(ls, l -> right(l, 3) = '...')) AS BIGINT) AS n_ellipsis
         |  FROM ft),
         |fp AS (SELECT doc_id, source, wc,
         |    (CAST(wc BETWEEN 30 AND 100000 AS INT)
         |     + CAST(n_chars * 10 >= wc * 42 AND n_chars * 10 <= wc * 100 AS INT)
         |     + CAST(n_sym * 10 <= wc AS INT)
         |     + CAST(n_alpha * 5 >= wc * 4 AS INT)
         |     + CAST(n_stop >= 2 AS INT)
         |     + CAST(n_bullet * 10 <= n_lines AS INT)
         |     + CAST(n_ellipsis * 10 <= n_lines * 3 AS INT)) AS n_pass,
         |    ((doc_id % 1048576) * 2654435761) % 1048576 AS hkey
         |  FROM fs),
         |fb AS (SELECT source, n_pass, CAST(SUM(wc) AS BIGINT) AS bin_wc FROM fp GROUP BY 1, 2),
         |fc AS (SELECT source, n_pass, bin_wc,
         |    CAST(COALESCE(SUM(bin_wc) OVER (PARTITION BY source ORDER BY n_pass DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_hi,
         |    CAST(SUM(bin_wc) OVER (PARTITION BY source) AS BIGINT) AS tot
         |  FROM fb),
         |fg AS (SELECT source, n_pass, bin_wc, cum_hi, (tot * 50) // 100 AS budget FROM fc),
         |fkept AS (SELECT fp.doc_id, fp.source, fp.n_pass,
         |    (fg.cum_hi + fg.bin_wc <= fg.budget
         |     OR CAST(fp.hkey AS HUGEINT) * fg.bin_wc
         |        < CAST(GREATEST(fg.budget - fg.cum_hi, 0) AS HUGEINT) * 1048576) AS kept
         |  FROM fp JOIN fg ON fp.source = fg.source AND fp.n_pass = fg.n_pass),
         |fex AS (SELECT doc_id, doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_dup
         |        FROM documents),
         |dt AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
         |db AS (SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk FROM dt),
         |dpairs AS (
         |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
         |  FROM db a JOIN db c ON a.blk = c.blk AND a.doc_id < c.doc_id
         |  WHERE round(CAST(len(list_intersect(a.sh, c.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, c.sh))), 6) >= 0.5),
         |dedges AS (SELECT doc_a AS a, doc_b AS b FROM dpairs UNION ALL SELECT doc_b AS a, doc_a AS b FROM dpairs),
         |dreach AS (
         |  SELECT a AS id, a AS lbl FROM dedges
         |  UNION
         |  SELECT e.a AS id, r.lbl FROM dedges e JOIN dreach r ON r.id = e.b),
         |dcomp AS (SELECT id, MIN(lbl) AS rep FROM dreach GROUP BY id),
         |dm AS (SELECT dcomp.id AS doc_id, dcomp.rep, fp.n_pass, fp.wc
         |       FROM dcomp JOIN fp ON fp.doc_id = dcomp.id),
         |dw AS (SELECT dm.*, FIRST_VALUE(doc_id) OVER (
         |         PARTITION BY rep ORDER BY n_pass DESC, wc DESC, doc_id ASC) AS canon FROM dm),
         |cg AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
         |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g3
         |  FROM documents),
         |cbench AS (SELECT DISTINCT unnest(g3) AS gr FROM cg WHERE doc_id % 97 = 0),
         |ctrain AS (SELECT doc_id, g3, len(g3) AS n_grams FROM cg WHERE doc_id % 97 <> 0),
         |cex AS (SELECT doc_id, unnest(g3) AS gr FROM ctrain),
         |cov AS (SELECT e.doc_id, COUNT(b.gr) AS n_overlap
         |        FROM cex e LEFT JOIN cbench b ON e.gr = b.gr GROUP BY e.doc_id),
         |contam AS (SELECT tr.doc_id,
         |    COALESCE(CASE WHEN tr.n_grams = 0 THEN NULL
         |         ELSE CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / tr.n_grams END >= 0.3, FALSE) AS contaminated
         |  FROM ctrain tr LEFT JOIN cov o ON tr.doc_id = o.doc_id)
         |SELECT k.doc_id, k.source, k.n_pass,
         |  (k.doc_id % 97 = 0) AS is_bench,
         |  fex.is_exact_dup,
         |  COALESCE(NOT (dw.doc_id = dw.canon), FALSE) AS is_near_dup,
         |  COALESCE(contam.contaminated, FALSE) AS contaminated,
         |  NOT k.kept AS over_budget,
         |  CASE WHEN k.doc_id % 97 = 0 THEN 'benchmark'
         |       WHEN k.n_pass < 6 THEN 'quality'
         |       WHEN fex.is_exact_dup THEN 'exact_dup'
         |       WHEN COALESCE(NOT (dw.doc_id = dw.canon), FALSE) THEN 'near_dup'
         |       WHEN COALESCE(contam.contaminated, FALSE) THEN 'contaminated'
         |       WHEN NOT k.kept THEN 'over_budget'
         |       ELSE 'kept' END AS stage
         |FROM fkept k
         |JOIN fex ON fex.doc_id = k.doc_id
         |LEFT JOIN dw ON dw.doc_id = k.doc_id
         |LEFT JOIN contam ON contam.doc_id = k.doc_id
         |ORDER BY k.doc_id""".stripMargin,
    // q76: brute-force corpus × bench shingle-Jaccard join over the
    // same planted derivation (every 2nd bench doc re-emitted into
    // the corpus side at +1000000; 1000000 % 97 = 27 ≠ 0 so plants
    // stay corpus-side). Banding recovery is total on the gate
    // corpora (q27b argument: plants share identical signatures;
    // natural cross-split pairs sit ≥ 0.95), so brute force is a
    // valid exact oracle. Ties for best_bench_id resolve by MIN
    // bench_id at the per-doc max jac — same rule as the Spark
    // struct max.
    "q76_decontam_fuzzy" ->
      s"""WITH raw AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 194 = 0),
         |t AS (SELECT doc_id, $shinglesSql AS sh FROM raw
         |      WHERE len(string_split(text, ' ')) >= 2),
         |bench AS (SELECT * FROM t WHERE doc_id % 97 = 0),
         |corpus AS (SELECT * FROM t WHERE doc_id % 97 <> 0),
         |p0 AS (SELECT c.doc_id, b.doc_id AS bench_id,
         |    round(CAST(len(list_intersect(c.sh, b.sh)) AS DOUBLE)
         |          / len(list_distinct(list_concat(c.sh, b.sh))), 6) AS jac
         |  FROM corpus c CROSS JOIN bench b),
         |p AS (SELECT * FROM p0 WHERE jac >= 0.5),
         |a AS (SELECT doc_id, COUNT(*) AS n_bench_matches, MAX(jac) AS max_jac
         |      FROM p GROUP BY doc_id),
         |best AS (SELECT p.doc_id, MIN(p.bench_id) AS best_bench_id
         |         FROM p JOIN a ON p.doc_id = a.doc_id AND p.jac = a.max_jac
         |         GROUP BY p.doc_id)
         |SELECT a.doc_id, a.n_bench_matches, a.max_jac, best.best_bench_id
         |FROM a JOIN best ON a.doc_id = best.doc_id
         |ORDER BY a.doc_id""".stripMargin,
    "q54_decontam" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g3
        |  FROM documents),
        |bench AS (SELECT DISTINCT unnest(g3) AS gr FROM g WHERE doc_id % 97 = 0),
        |train AS (SELECT doc_id, g3, len(g3) AS n_grams FROM g WHERE doc_id % 97 <> 0),
        |ex AS (SELECT doc_id, unnest(g3) AS gr FROM train),
        |ov AS (SELECT e.doc_id, COUNT(b.gr) AS n_overlap
        |       FROM ex e LEFT JOIN bench b ON e.gr = b.gr GROUP BY e.doc_id)
        |SELECT t.doc_id, CAST(t.n_grams AS INT) AS n_grams,
        |  COALESCE(o.n_overlap, 0) AS n_overlap,
        |  CASE WHEN t.n_grams = 0 THEN NULL
        |       ELSE CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / t.n_grams END AS rate,
        |  COALESCE(CASE WHEN t.n_grams = 0 THEN NULL
        |       ELSE CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / t.n_grams END >= 0.3, FALSE) AS contaminated
        |FROM train t LEFT JOIN ov o ON t.doc_id = o.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // q54b produces q54's output exactly (the Bloom screen has no
    // false negatives and the verify join eliminates false
    // positives) — the oracle is q54's, verbatim.
    "q54b_decontam_bloom" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS g3
        |  FROM documents),
        |bench AS (SELECT DISTINCT unnest(g3) AS gr FROM g WHERE doc_id % 97 = 0),
        |train AS (SELECT doc_id, g3, len(g3) AS n_grams FROM g WHERE doc_id % 97 <> 0),
        |ex AS (SELECT doc_id, unnest(g3) AS gr FROM train),
        |ov AS (SELECT e.doc_id, COUNT(b.gr) AS n_overlap
        |       FROM ex e LEFT JOIN bench b ON e.gr = b.gr GROUP BY e.doc_id)
        |SELECT t.doc_id, CAST(t.n_grams AS INT) AS n_grams,
        |  COALESCE(o.n_overlap, 0) AS n_overlap,
        |  CASE WHEN t.n_grams = 0 THEN NULL
        |       ELSE CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / t.n_grams END AS rate,
        |  COALESCE(CASE WHEN t.n_grams = 0 THEN NULL
        |       ELSE CAST(COALESCE(o.n_overlap, 0) AS DOUBLE) / t.n_grams END >= 0.3, FALSE) AS contaminated
        |FROM train t LEFT JOIN ov o ON t.doc_id = o.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // q70: identical statistics on STRING bigrams (occurrences, not
    // distinct — no list_distinct); hash ≡ string grouping is pinned
    // by KGramHashParitySpec, and the output carries only counts.
    "q70_importance_select" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 7 = 0 AS tgt,
        |    list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]) AS gs
        |  FROM documents),
        |e AS (SELECT doc_id, tgt, unnest(gs) AS g FROM t),
        |d AS (SELECT doc_id, tgt,
        |        SUM(CASE WHEN tgt THEN 1 ELSE 0 END) OVER (PARTITION BY g) AS ct,
        |        SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) OVER (PARTITION BY g) AS cr
        |      FROM e),
        |p AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |        CAST(SUM(ct) AS BIGINT) AS sum_t, CAST(SUM(cr) AS BIGINT) AS sum_r
        |      FROM d WHERE NOT tgt GROUP BY doc_id),
        |tot AS (SELECT CAST(SUM(CASE WHEN tgt THEN len(gs) ELSE 0 END) AS BIGINT) AS nt,
        |               CAST(SUM(CASE WHEN NOT tgt THEN len(gs) ELSE 0 END) AS BIGINT) AS nr
        |        FROM t)
        |SELECT b.doc_id, COALESCE(p.n_grams, 0) AS n_grams,
        |  COALESCE(p.sum_t, 0) AS sum_t, COALESCE(p.sum_r, 0) AS sum_r,
        |  CASE WHEN COALESCE(p.n_grams, 0) > 0
        |       THEN round(CAST(p.sum_t AS DOUBLE) * tot.nr / (CAST(p.sum_r AS DOUBLE) * tot.nt), 6)
        |       END AS w,
        |  COALESCE(CASE WHEN COALESCE(p.n_grams, 0) > 0
        |       THEN round(CAST(p.sum_t AS DOUBLE) * tot.nr / (CAST(p.sum_r AS DOUBLE) * tot.nt), 6)
        |       END >= 1.0, FALSE) AS selected
        |FROM (SELECT doc_id FROM t WHERE NOT tgt) b
        |LEFT JOIN p ON b.doc_id = p.doc_id CROSS JOIN tot
        |ORDER BY b.doc_id""".stripMargin,
    "q55_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@mail.example.com for details' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' call +1555' || doc_id || ' now' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN ' see https://ex.example.org/p/' || doc_id || ' page' ELSE '' END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[a-z0-9._]+@[a-z0-9.]+')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2, '\+[0-9]{5,}')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(t2, 'https://[a-z0-9./]+')) AS INT) AS n_urls,
        |  regexp_replace(regexp_replace(regexp_replace(t2,
        |    '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    'https://[a-z0-9./]+', '<URL>', 'g'),
        |    '\+[0-9]{5,}', '<PHONE>', 'g') AS clean_text
        |FROM p ORDER BY doc_id""".stripMargin,
    "q57_pack_sequences" ->
      s"""WITH RECURSIVE o AS (
         |  SELECT lang, doc_id, CAST($wcSql AS BIGINT) AS wc,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents),
         |p AS (
         |  SELECT lang, rn, doc_id, wc, CAST(0 AS BIGINT) AS pack_id, wc AS acc FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.lang, o.rn, o.doc_id, o.wc,
         |    CASE WHEN p.acc + o.wc > 256 THEN p.pack_id + 1 ELSE p.pack_id END,
         |    CASE WHEN p.acc + o.wc > 256 THEN o.wc ELSE p.acc + o.wc END
         |  FROM o JOIN p ON o.lang = p.lang AND o.rn = p.rn + 1)
         |SELECT lang, doc_id, wc, pack_id FROM p ORDER BY lang, doc_id""".stripMargin,
    "q64_substring_dup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT t.doc_id, u.i AS pos,
        |        array_to_string(list_slice(t.toks, u.i, u.i + 7), ' ') AS g
        |      FROM t, unnest(generate_series(1, len(t.toks) - 7)) AS u(i)
        |      WHERE len(t.toks) >= 8),
        |s AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |c AS (SELECT g.doc_id, g.pos FROM g JOIN s ON g.g = s.g),
        |u2 AS (SELECT doc_id, pos, LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM c),
        |agg AS (SELECT doc_id, COUNT(*) AS n_dup_grams,
        |        SUM(LEAST(8, COALESCE(nxt - pos, 8))) AS dup_tokens FROM u2 GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
        |  CAST(COALESCE(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / len(string_split(d.text, ' ')) AS dup_frac
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q64b: same full-corpus shared-gram law as q64, restricted to
    // the derived delta (doc_id % 16 = 0) — the engine reads only the
    // delta text + the persisted gram index; the oracle re-derives
    // from scratch.
    "q64b_substring_incr" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT t.doc_id, u.i AS pos,
        |        array_to_string(list_slice(t.toks, u.i, u.i + 7), ' ') AS g
        |      FROM t, unnest(generate_series(1, len(t.toks) - 7)) AS u(i)
        |      WHERE len(t.toks) >= 8),
        |s AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |c AS (SELECT g.doc_id, g.pos FROM g JOIN s ON g.g = s.g WHERE g.doc_id % 16 = 0),
        |u2 AS (SELECT doc_id, pos, LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM c),
        |agg AS (SELECT doc_id, COUNT(*) AS n_dup_grams,
        |        SUM(LEAST(8, COALESCE(nxt - pos, 8))) AS dup_tokens FROM u2 GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
        |  CAST(COALESCE(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        |  CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / len(string_split(d.text, ' ')) AS dup_frac
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |WHERE d.doc_id % 16 = 0
        |ORDER BY d.doc_id""".stripMargin,
    // q34: GRADUATED r16 — the stub decode is deterministic byte
    // statistics over the UTF-8 text bytes (width/height from the
    // byte sum, resize via integer aspect math, frames via integer
    // stride), so the whole pipeline replays in DuckDB exactly like
    // q28/q33: ord(codepoint) == utf8 byte under the ASCII corpus
    // precondition (GateInvariants — verified at all three gate SFs,
    // fails loudly otherwise). NULL text decodes like empty payload
    // (coalesce 0 both engines); avg_* are single IEEE divisions
    // over exact integer sums.
    "q34_media_pipeline" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    COALESCE(list_sum(list_transform(range(1, length(text)+1), i -> ord(substr(text, CAST(i AS INT), 1)))), 0) AS s,
        |    COALESCE(octet_length(encode(text)), 0) AS nb
        |  FROM documents),
        |d AS (
        |  SELECT source, nb,
        |    CAST(s % 640 AS INT) + 1 AS w,
        |    CAST(s % 480 AS INT) + 1 AS h
        |  FROM b),
        |r AS (
        |  SELECT source, nb, w, h,
        |    CASE WHEN greatest(w, h) <= 256 THEN w
        |         ELSE greatest(1, (w * 256) // greatest(w, h)) END AS ow,
        |    CASE WHEN greatest(w, h) <= 256 THEN h
        |         ELSE greatest(1, (h * 256) // greatest(w, h)) END AS oh,
        |    greatest(1, nb // 100) AS nf
        |  FROM d)
        |SELECT source, COUNT(*) AS n_media,
        |  CAST(SUM(nb) AS BIGINT) AS total_bytes,
        |  CAST(SUM(w) AS DOUBLE) / COUNT(*) AS avg_width,
        |  CAST(SUM(h) AS DOUBLE) / COUNT(*) AS avg_height,
        |  CAST(SUM(ow) AS DOUBLE) / COUNT(*) AS avg_out_w,
        |  CAST(SUM(oh) AS DOUBLE) / COUNT(*) AS avg_out_h,
        |  CAST(SUM(nf) AS BIGINT) AS total_frames
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // q34b/q34c: the GRID decode planted twins. The Spark side decodes
    // features FROM THE PAYLOAD BYTES (header parse + pixel scan); the
    // oracle re-derives the same features from doc_id with integer
    // arithmetic (pixel i = ((doc_id%256) + 7·i) % 256 over the
    // w·h grid, w = 4 + doc_id%29, h = 4 + doc_id%23) — a decode bug
    // anywhere (endianness, signed bytes, off-by-one pixel count)
    // breaks the hash. range(0,832) covers the max grid (32·26);
    // SUM cast to BIGINT (DuckDB sums integers into HUGEINT).
    "q34b_media_decode" ->
      """WITH px AS (
        |  SELECT d.doc_id, d.source,
        |         CAST(4 + (d.doc_id % 29) AS INT) AS width,
        |         CAST(4 + (d.doc_id % 23) AS INT) AS height,
        |         ((d.doc_id % 256) + 7 * r.i) % 256 AS pv
        |  FROM documents d
        |  JOIN range(0, 832) r(i)
        |    ON r.i < (4 + (d.doc_id % 29)) * (4 + (d.doc_id % 23)))
        |SELECT doc_id, source, MIN(width) AS width, MIN(height) AS height,
        |       COUNT(*) AS n_pixels, CAST(SUM(pv) AS BIGINT) AS pixel_sum,
        |       CAST(MIN(pv) AS INT) AS px_min, CAST(MAX(pv) AS INT) AS px_max
        |FROM px
        |GROUP BY doc_id, source
        |ORDER BY doc_id""".stripMargin,
    "q34c_media_arrow" ->
      """WITH px AS (
        |  SELECT d.doc_id, d.source,
        |         CAST(4 + (d.doc_id % 29) AS INT) AS width,
        |         CAST(4 + (d.doc_id % 23) AS INT) AS height,
        |         ((d.doc_id % 256) + 7 * r.i) % 256 AS pv
        |  FROM documents d
        |  JOIN range(0, 832) r(i)
        |    ON r.i < (4 + (d.doc_id % 29)) * (4 + (d.doc_id % 23)))
        |SELECT doc_id, source, MIN(width) AS width, MIN(height) AS height,
        |       COUNT(*) AS n_pixels, CAST(SUM(pv) AS BIGINT) AS pixel_sum,
        |       CAST(MIN(pv) AS INT) AS px_min, CAST(MAX(pv) AS INT) AS px_max
        |FROM px
        |GROUP BY doc_id, source
        |ORDER BY doc_id""".stripMargin,
    // q34d: the composed multimodal pipeline — pixel features
    // re-derived from doc_id (q34b's planting discipline), quality
    // from text (q31's formula), joined on doc_id and aggregated per
    // (brightness band, lang). Integer division via DuckDB's `//`
    // matches the Spark side's Long division (all values ≥ 0);
    // avg_px is one IEEE division over two exact integer sums.
    "q34d_media_quality" ->
      s"""WITH px AS (
         |  SELECT d.doc_id,
         |         CAST(SUM(((d.doc_id % 256) + 7 * r.i) % 256) AS BIGINT) AS pixel_sum,
         |         COUNT(*) AS n_pixels
         |  FROM documents d
         |  JOIN range(0, 832) r(i)
         |    ON r.i < (4 + (d.doc_id % 29)) * (4 + (d.doc_id % 23))
         |  GROUP BY d.doc_id),
         |q AS (
         |  SELECT doc_id, lang, wc,
         |         round(CAST(n_stop AS DOUBLE) / wc * 0.5
         |               + LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 500.0) * 0.5, 6) AS quality
         |  FROM (SELECT doc_id, lang, text, $wcSql AS wc,
         |          len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to'))) AS n_stop
         |        FROM documents) t)
         |SELECT CAST((px.pixel_sum // px.n_pixels) // 64 AS INT) AS band, q.lang,
         |       COUNT(*) AS n_docs,
         |       CAST(SUM(px.n_pixels) AS BIGINT) AS total_pixels,
         |       CAST(SUM(px.pixel_sum) AS DOUBLE) / SUM(px.n_pixels) AS avg_px,
         |       CAST(SUM(CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_q,
         |       CAST(SUM(q.wc) AS BIGINT) AS total_wc
         |FROM px JOIN q ON px.doc_id = q.doc_id
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    // q33: GRADUATED r15 — fingerprint64 (h = h·31 + byte from seed
    // 1125899906842597, wrapping signed 64-bit) replayed as a HUGEINT
    // list_reduce byte fold mod 2^64, re-signed into BIGINT at the
    // end. h·31 + b peaks below 2^69 so plain HUGEINT arithmetic
    // suffices (no umulSql split needed). Same ASCII precondition as
    // q28's replay — verified at all three gate SFs, fails loudly
    // otherwise.
    "q33_fingerprint" ->
      """WITH fp AS (
        |  SELECT doc_id, CAST(CASE WHEN u >= 9223372036854775808::HUGEINT THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS fp
        |  FROM (
        |    SELECT doc_id, list_reduce(
        |        list_prepend(1125899906842597::HUGEINT,
        |          list_transform(range(1, length(text)+1), i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS HUGEINT))),
        |        (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS u
        |    FROM documents)),
        |g AS (SELECT fp, min(doc_id) AS group_min, count(*) AS group_n FROM fp GROUP BY fp)
        |SELECT f.doc_id, f.fp, g.group_min, g.group_n
        |FROM fp f JOIN g USING (fp)
        |ORDER BY f.doc_id""".stripMargin,
    // q33b: the oracle groups by TEXT — same structure the engine
    // derives from 64-bit fingerprints (collision-free on the gate
    // corpora, deterministic; planted copies recover with certainty).
    "q33b_fingerprint_groups" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0),
        |g AS (SELECT text, MIN(doc_id) AS group_min, COUNT(*) AS group_n FROM u GROUP BY text)
        |SELECT u.doc_id, g.group_min, g.group_n
        |FROM u JOIN g ON u.text = g.text
        |ORDER BY u.doc_id""".stripMargin,
    // q68: global length-decile binning via the (wc -> count)
    // histogram's running sum (value-level bins, no tie-splitting);
    // q72: identical overlap statistics on STRING bigrams (hash ≡
    // string grouping pinned by KGramHashParitySpec); output carries
    // only gram-equality counts + one exact IEEE division.
    "q72_source_overlap" ->
      """WITH t AS (
        |  SELECT source, list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS gs
        |  FROM documents),
        |e AS (SELECT DISTINCT source, unnest(gs) AS g FROM t),
        |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY source),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |       FROM e a JOIN e b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
        |SELECT p1.source AS source_a, p2.source AS source_b, p1.n AS n_a, p2.n AS n_b,
        |  COALESCE(sh.n_shared, 0) AS n_shared,
        |  CASE WHEN p1.n + p2.n - COALESCE(sh.n_shared, 0) = 0 THEN NULL
        |       ELSE CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) / (p1.n + p2.n - COALESCE(sh.n_shared, 0)) END AS jaccard
        |FROM ps p1 JOIN ps p2 ON p1.source < p2.source
        |LEFT JOIN sh ON sh.source_a = p1.source AND sh.source_b = p2.source
        |ORDER BY source_a, source_b""".stripMargin,
    // q73: same span-coverage law on STRING 3-grams, 1-based list
    // positions throughout (Spark side is 0-based posexplode — the
    // output carries no positions, so the bases never meet); cleaned
    // text rebuilt by ordered string_agg over uncovered positions,
    // COALESCE '' matching Spark's concat_ws on an empty array.
    "q73_boilerplate_spans" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT t.doc_id, u.i AS p,
        |        array_to_string(list_slice(t.toks, u.i, u.i + 2), ' ') AS g
        |      FROM t, unnest(generate_series(1, len(t.toks) - 2)) AS u(i)
        |      WHERE len(t.toks) >= 3),
        |b AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 5),
        |c AS (SELECT DISTINCT g.doc_id, g.p + r.range AS cp
        |      FROM g JOIN b ON g.g = b.g CROSS JOIN range(3) r),
        |kept AS (SELECT t.doc_id, u.i AS p, t.toks[u.i] AS tok
        |         FROM t, unnest(generate_series(1, len(t.toks))) AS u(i)
        |         WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.doc_id = t.doc_id AND c.cp = u.i)),
        |cln AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text FROM kept GROUP BY doc_id),
        |cv AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_covered FROM c GROUP BY doc_id)
        |SELECT t.doc_id, t.source, CAST(len(t.toks) AS INT) AS n_tokens,
        |  COALESCE(cv.n_covered, 0) AS n_covered,
        |  COALESCE(cln.clean_text, '') AS clean_text
        |FROM t LEFT JOIN cv ON t.doc_id = cv.doc_id
        |LEFT JOIN cln ON t.doc_id = cln.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // q74: q71's integer rule arithmetic verbatim, the fill plan on
    // the (source, n_pass) histogram (both window SUMs cast back to
    // BIGINT out of DuckDB's HUGEINT), the q59 hkey keep rule with
    // the product lifted to HUGEINT exactly as Spark lifts it to
    // decimal(38,0). budgetPct = 50 mirrors the driver default.
    "q74_token_budget" ->
      """WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws,
        |         string_split(text, chr(10)) AS ls FROM documents),
        |s AS (SELECT doc_id, source,
        |    CAST(len(ws) AS BIGINT) AS wc,
        |    CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS n_chars,
        |    CAST(len(text) - len(replace(text, '#', ''))
        |         + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(['the', 'a'], w -> list_contains(ws, w))) AS BIGINT) AS n_stop,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l -> substring(l, 1, 2) = '- '
        |         OR substring(l, 1, 2) = '* ')) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(ls, l -> right(l, 3) = '...')) AS BIGINT) AS n_ellipsis
        |  FROM t),
        |p AS (SELECT doc_id, source, wc,
        |    (CAST(wc BETWEEN 30 AND 100000 AS INT)
        |     + CAST(n_chars * 10 >= wc * 42 AND n_chars * 10 <= wc * 100 AS INT)
        |     + CAST(n_sym * 10 <= wc AS INT)
        |     + CAST(n_alpha * 5 >= wc * 4 AS INT)
        |     + CAST(n_stop >= 2 AS INT)
        |     + CAST(n_bullet * 10 <= n_lines AS INT)
        |     + CAST(n_ellipsis * 10 <= n_lines * 3 AS INT)) AS n_pass,
        |    ((doc_id % 1048576) * 2654435761) % 1048576 AS hkey
        |  FROM s),
        |b AS (SELECT source, n_pass, CAST(SUM(wc) AS BIGINT) AS bin_wc FROM p GROUP BY 1, 2),
        |c AS (SELECT source, n_pass, bin_wc,
        |    CAST(COALESCE(SUM(bin_wc) OVER (PARTITION BY source ORDER BY n_pass DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_hi,
        |    CAST(SUM(bin_wc) OVER (PARTITION BY source) AS BIGINT) AS tot
        |  FROM b),
        |g AS (SELECT source, n_pass, bin_wc, cum_hi, (tot * 50) // 100 AS budget FROM c)
        |SELECT p.doc_id, p.source, p.wc, p.n_pass,
        |  (g.cum_hi + g.bin_wc <= g.budget
        |   OR CAST(p.hkey AS HUGEINT) * g.bin_wc
        |      < CAST(GREATEST(g.budget - g.cum_hi, 0) AS HUGEINT) * 1048576) AS kept
        |FROM p JOIN g ON p.source = g.source AND p.n_pass = g.n_pass
        |ORDER BY p.doc_id""".stripMargin,
    // chi computed from UNROUNDED expected, rounded at the surface.
    "q68_mix_drift" ->
      s"""WITH d AS (SELECT doc_id, source, $wcSql AS wc FROM documents),
         |t AS (SELECT COUNT(*) AS n_total FROM d),
         |h AS (SELECT wc, COUNT(*) AS c FROM d GROUP BY wc),
         |b AS (SELECT wc, LEAST(9, CAST(FLOOR(
         |        COALESCE(SUM(c) OVER (ORDER BY wc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |        * 10 / t.n_total) AS INT)) AS bin
         |      FROM h, t),
         |bd AS (SELECT d.doc_id, d.source, b.bin FROM d JOIN b ON d.wc = b.wc),
         |s AS (SELECT source, COUNT(*) AS n_src FROM bd GROUP BY source),
         |bb AS (SELECT bin, COUNT(*) AS n_bin FROM bd GROUP BY bin),
         |o AS (SELECT source, bin, COUNT(*) AS n_obs FROM bd GROUP BY source, bin),
         |e AS (SELECT o.source, o.bin, o.n_obs, s.n_src, bb.n_bin, t.n_total,
         |        CAST(s.n_src AS DOUBLE) * CAST(bb.n_bin AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS ex
         |      FROM o JOIN s ON o.source = s.source JOIN bb ON o.bin = bb.bin, t)
         |SELECT source, bin, n_obs, n_src, n_bin, n_total, round(ex, 6) AS expected,
         |  round((CAST(n_obs AS DOUBLE) - ex) * (CAST(n_obs AS DOUBLE) - ex) / ex, 6) AS chi
         |FROM e ORDER BY source, bin""".stripMargin,
    // q69: positional lower-median law over per-source histograms —
    // the same CTE in both engines; all-integer output
    "q69_length_outliers" ->
      s"""WITH d AS (SELECT doc_id, source, CAST($wcSql AS BIGINT) AS wc FROM documents),
         |h AS (SELECT source, wc, COUNT(*) AS c FROM d GROUP BY source, wc),
         |t AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
         |m AS (SELECT h.source, h.wc AS med
         |      FROM (SELECT source, wc, c,
         |              COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY wc
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |            FROM h) h JOIN t ON h.source = t.source
         |      WHERE h.cum < (t.n + 1) // 2 AND h.cum + h.c >= (t.n + 1) // 2),
         |dd AS (SELECT d.doc_id, d.source, d.wc, m.med, ABS(d.wc - m.med) AS dev
         |       FROM d JOIN m ON d.source = m.source),
         |h2 AS (SELECT source, dev, COUNT(*) AS c FROM dd GROUP BY source, dev),
         |m2 AS (SELECT h2.source, h2.dev AS mad
         |       FROM (SELECT source, dev, c,
         |               COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY dev
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |             FROM h2) h2 JOIN t ON h2.source = t.source
         |       WHERE h2.cum < (t.n + 1) // 2 AND h2.cum + h2.c >= (t.n + 1) // 2)
         |SELECT dd.doc_id, dd.source, dd.wc, dd.med, m2.mad, dd.dev,
         |  dd.dev > m2.mad * 5 AS is_outlier
         |FROM dd JOIN m2 ON dd.source = m2.source
         |ORDER BY dd.doc_id""".stripMargin,
    "q66_rarity_score" ->
      s"""WITH t AS (SELECT doc_id, $shinglesSql AS sh FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |e AS (SELECT doc_id, unnest(sh) AS g FROM t),
         |d AS (SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM e)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(df) AS DOUBLE) / COUNT(*) AS mean_df,
         |  MIN(df) AS min_df,
         |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |  round(CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS uniq_frac
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q71: identical integer counters + cross-multiplied rule flags;
    // thresholds mirror the driver entry's corpus-tuned params
    // (minWords=30, meanLen 4.2-10 scaled by 10, stop list {the, a}).
    "q71_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ws,
        |         string_split(text, chr(10)) AS ls FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS n_chars,
        |    CAST(len(text) - len(replace(text, '#', ''))
        |         + (len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(['the', 'a'], w -> list_contains(ws, w))) AS BIGINT) AS n_stop,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(ls, l -> substring(l, 1, 2) = '- '
        |         OR substring(l, 1, 2) = '* ')) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(ls, l -> right(l, 3) = '...')) AS BIGINT) AS n_ellipsis
        |  FROM t)
        |SELECT doc_id, n_words, n_chars, n_sym, n_alpha, n_stop, n_lines, n_bullet, n_ellipsis,
        |  (n_words BETWEEN 30 AND 100000) AS r_words,
        |  (n_chars * 10 >= n_words * 42 AND n_chars * 10 <= n_words * 100) AS r_meanlen,
        |  (n_sym * 10 <= n_words) AS r_symbol,
        |  (n_alpha * 5 >= n_words * 4) AS r_alpha,
        |  (n_stop >= 2) AS r_stop,
        |  (n_bullet * 10 <= n_lines) AS r_bullet,
        |  (n_ellipsis * 10 <= n_lines * 3) AS r_ellipsis,
        |  ((n_words BETWEEN 30 AND 100000)
        |   AND (n_chars * 10 >= n_words * 42 AND n_chars * 10 <= n_words * 100)
        |   AND n_sym * 10 <= n_words AND n_alpha * 5 >= n_words * 4 AND n_stop >= 2
        |   AND n_bullet * 10 <= n_lines AND n_ellipsis * 10 <= n_lines * 3) AS pass_gopher
        |FROM s ORDER BY doc_id""".stripMargin,
    "q57b_pack_sharded" ->
      s"""WITH RECURSIVE o AS (
         |  SELECT lang, doc_id // 128 AS shard, doc_id, CAST($wcSql AS BIGINT) AS wc,
         |    ROW_NUMBER() OVER (PARTITION BY lang, doc_id // 128 ORDER BY doc_id) AS rn
         |  FROM documents),
         |p AS (
         |  SELECT lang, shard, rn, doc_id, wc, CAST(0 AS BIGINT) AS pack_id, wc AS acc FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.lang, o.shard, o.rn, o.doc_id, o.wc,
         |    CASE WHEN p.acc + o.wc > 256 THEN p.pack_id + 1 ELSE p.pack_id END,
         |    CASE WHEN p.acc + o.wc > 256 THEN o.wc ELSE p.acc + o.wc END
         |  FROM o JOIN p ON o.lang = p.lang AND o.shard = p.shard AND o.rn = p.rn + 1)
         |SELECT lang, shard, doc_id, wc, pack_id FROM p ORDER BY lang, shard, doc_id""".stripMargin,
    "q58_distinctive_terms" ->
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT lang, word, COUNT(*) AS tf FROM w GROUP BY lang, word),
        |dfc AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
        |nl AS (SELECT COUNT(DISTINCT lang) AS n_langs FROM documents)
        |SELECT lang, word, tf, df, score, CAST(rk AS INT) AS rk FROM (
        |  SELECT t.lang, t.word, t.tf, d.df, t.tf * (nl.n_langs - d.df + 1) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY t.lang
        |      ORDER BY t.tf * (nl.n_langs - d.df + 1) DESC, t.word) AS rk
        |  FROM tf t JOIN dfc d ON t.word = d.word, nl) s
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,
    "q59_stratified_sample" ->
      """WITH s AS (SELECT lang, source, COUNT(*) AS cnt FROM documents GROUP BY lang, source),
        |m AS (SELECT MIN(cnt) AS min_cnt FROM s),
        |t AS (SELECT s.lang, s.source, (m.min_cnt * 1048576) // s.cnt AS thr FROM s, m)
        |SELECT d.doc_id, d.lang, d.source, ((d.doc_id % 1048576) * 2654435761) % 1048576 AS hkey
        |FROM documents d JOIN t ON d.lang = t.lang AND d.source = t.source
        |WHERE ((d.doc_id % 1048576) * 2654435761) % 1048576 < t.thr
        |ORDER BY d.doc_id""".stripMargin,
    "q65_temperature_mix" ->
      """WITH s AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
        |m AS (SELECT MIN(cnt) AS min_cnt FROM s),
        |t AS (SELECT s.source,
        |        CAST(FLOOR(sqrt(CAST(m.min_cnt AS DOUBLE)) / sqrt(CAST(s.cnt AS DOUBLE)) * 1048576) AS BIGINT) AS thr
        |      FROM s, m)
        |SELECT d.doc_id, d.lang, d.source, ((d.doc_id % 1048576) * 2654435761) % 1048576 AS hkey, t.thr
        |FROM documents d JOIN t ON d.source = t.source
        |WHERE ((d.doc_id % 1048576) * 2654435761) % 1048576 < t.thr
        |ORDER BY d.doc_id""".stripMargin,
    "q56_reply_threads" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_id, CAST(json_extract_string(props, 'k') AS INT) AS k FROM events),
        |par AS (
        |  SELECT event_id, CASE WHEN k % 4 <> 0 THEN event_id - 1 - (k % 8) ELSE NULL END AS pid
        |  FROM ev),
        |e AS (
        |  SELECT p.event_id, CASE WHEN e2.event_id IS NULL THEN NULL ELSE p.pid END AS parent_id
        |  FROM par p LEFT JOIN ev e2 ON p.pid = e2.event_id),
        |t AS (
        |  SELECT event_id, event_id AS root_id, CAST(0 AS BIGINT) AS depth FROM e WHERE parent_id IS NULL
        |  UNION ALL
        |  SELECT c.event_id, t.root_id, t.depth + 1 FROM e c JOIN t ON c.parent_id = t.event_id)
        |SELECT event_id, root_id, depth FROM t ORDER BY event_id""".stripMargin,
    "q56b_thread_stats" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_id, CAST(json_extract_string(props, 'k') AS INT) AS k FROM events),
        |par AS (
        |  SELECT event_id, CASE WHEN k % 4 <> 0 THEN event_id - 1 - (k % 8) ELSE NULL END AS pid
        |  FROM ev),
        |e AS (
        |  SELECT p.event_id, CASE WHEN e2.event_id IS NULL THEN NULL ELSE p.pid END AS parent_id
        |  FROM par p LEFT JOIN ev e2 ON p.pid = e2.event_id),
        |t AS (
        |  SELECT event_id, event_id AS root_id, CAST(0 AS BIGINT) AS depth FROM e WHERE parent_id IS NULL
        |  UNION ALL
        |  SELECT c.event_id, t.root_id, t.depth + 1 FROM e c JOIN t ON c.parent_id = t.event_id)
        |SELECT t.root_id, COUNT(*) AS thread_size, MAX(t.depth) AS max_depth,
        |  COUNT(DISTINCT ee.user_id) AS n_users,
        |  MIN(epoch_ms(ee.ts)) AS first_ms, MAX(epoch_ms(ee.ts)) AS last_ms
        |FROM t JOIN events ee ON t.event_id = ee.event_id
        |GROUP BY t.root_id ORDER BY root_id""".stripMargin,
    "q30_token_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs, CAST(SUM(wc) AS BIGINT) AS total_tokens,
         |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
         |  CAST(SUM(LENGTH(REPLACE(text, ' ', ''))) AS DOUBLE) / SUM(wc) AS avg_word_len,
         |  CAST(SUM(wc) AS DOUBLE) / COUNT(*) AS avg_tokens_per_doc
         |FROM (SELECT lang, text, $wcSql AS wc FROM documents) t
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q60_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, len(toks) AS n_words, len(list_distinct(toks)) AS n_uniq_words,
        |  CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1])
        |       ELSE CAST([] AS VARCHAR[]) END AS bi
        |  FROM t),
        |s AS (SELECT doc_id, n_words, n_uniq_words, len(bi) AS n_bigrams,
        |  len(list_distinct(bi)) AS n_uniq_bigrams, bi FROM b),
        |ex AS (SELECT doc_id, unnest(bi) AS g FROM s),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM ex GROUP BY doc_id, g),
        |tc AS (SELECT doc_id, MAX(c) AS top_cnt FROM bc GROUP BY doc_id)
        |SELECT s.doc_id, CAST(n_words AS INT) AS n_words, CAST(n_uniq_words AS INT) AS n_uniq_words,
        |  CAST(n_bigrams AS INT) AS n_bigrams, CAST(n_uniq_bigrams AS INT) AS n_uniq_bigrams,
        |  CAST(COALESCE(tc.top_cnt, 0) AS BIGINT) AS top_bigram_cnt,
        |  CASE WHEN n_words = 0 THEN NULL ELSE CAST(n_words - n_uniq_words AS DOUBLE) / n_words END AS dup_word_frac,
        |  CASE WHEN n_bigrams = 0 THEN NULL ELSE CAST(n_bigrams - n_uniq_bigrams AS DOUBLE) / n_bigrams END AS dup_bigram_frac,
        |  CASE WHEN n_bigrams = 0 THEN NULL ELSE CAST(COALESCE(tc.top_cnt, 0) AS DOUBLE) / n_bigrams END AS top_bigram_frac,
        |  (COALESCE(CASE WHEN n_words = 0 THEN NULL ELSE CAST(n_words - n_uniq_words AS DOUBLE) / n_words END >= 0.55, FALSE)
        |   OR (COALESCE(tc.top_cnt, 0) >= 2
        |       AND COALESCE(CASE WHEN n_bigrams = 0 THEN NULL ELSE CAST(COALESCE(tc.top_cnt, 0) AS DOUBLE) / n_bigrams END >= 0.125, FALSE))) AS repetitive
        |FROM s LEFT JOIN tc ON s.doc_id = tc.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "q63_quality_bins" -> q63Sql,
    // q63b is the skew-safe decomposition of the SAME result contract
    "q63b_bins_chunked" -> q63Sql,
    "q61_emb_outliers" ->
      """WITH d AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |dims AS (
        |  SELECT label, unnest(list_transform(generate_series(1, len(emb)), i -> {'d': i, 'v': emb[i]}), recursive := true)
        |  FROM d),
        |c AS (SELECT label, d, CAST(SUM(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
        |      FROM dims GROUP BY label, d),
        |cent AS (SELECT label, list(m ORDER BY d) AS cvec FROM c GROUP BY label),
        |sc AS (SELECT d.vec_id, d.label, round(list_cosine_similarity(d.emb, cent.cvec), 6) AS csim
        |       FROM d JOIN cent ON d.label = cent.label)
        |SELECT vec_id, label, csim, CAST(rk AS INT) AS rk FROM (
        |  SELECT vec_id, label, csim, ROW_NUMBER() OVER (PARTITION BY label ORDER BY csim ASC, vec_id) AS rk FROM sc) s
        |WHERE rk <= 5 ORDER BY label, rk""".stripMargin,
    "q62_hard_negs" ->
      """WITH d AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |a AS (SELECT vec_id AS anchor_id, label AS anchor_label, emb AS avec FROM d WHERE vec_id % 101 = 0),
        |sc AS (SELECT a.anchor_id, a.anchor_label, d.vec_id, d.label,
        |  round(list_cosine_similarity(d.emb, a.avec), 6) AS sim
        |  FROM d JOIN a ON d.label <> a.anchor_label)
        |SELECT anchor_id, anchor_label, vec_id, label, sim, CAST(rk AS INT) AS rk FROM (
        |  SELECT anchor_id, anchor_label, vec_id, label, sim,
        |    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vec_id) AS rk FROM sc) s
        |WHERE rk <= 5 ORDER BY anchor_id, rk""".stripMargin,
    // q62b: the IVF-blocked mining probe, graduated from rows-only in
    // r14 — like q29b, the oracle replays the engine's OWN blocking:
    // min-vec_id-per-residue-class seed vectors (refinedCentroids at
    // iters=0 stores the raw member vector, so no mean arithmetic at
    // all on this path), top-1 list assignment and top-3 anchor
    // probing by 6dp-rounded cosine with cell tie-break, cross-label
    // filter, per-anchor top-5. Flat-path replay (lists ≤ 64 ⇔
    // corpus ≤ 8125 vectors — all gate SFs).
    "q62b_hard_negs_ivf" ->
      """WITH p AS (SELECT GREATEST(16, CAST(COUNT(*) // 125 AS INT)) AS lists FROM embeddings),
        |seeds AS (
        |  SELECT cell, embedding AS svec FROM (
        |    SELECT CAST(e.vec_id % p.lists AS INT) AS cell, e.embedding,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id % p.lists ORDER BY e.vec_id) AS rn
        |    FROM embeddings e, p) s WHERE rn = 1),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, s.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(s.svec AS DOUBLE[])), 6) DESC, s.cell) AS rk
        |    FROM embeddings e, seeds s) t WHERE rk = 1),
        |cells AS (
        |  SELECT a.cell, e.vec_id, e.label, e.embedding
        |  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id),
        |anchors AS (
        |  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS avec
        |  FROM embeddings WHERE vec_id % 101 = 0),
        |probes AS (
        |  SELECT anchor_id, anchor_label, avec, cell FROM (
        |    SELECT a.anchor_id, a.anchor_label, a.avec, s.cell,
        |      ROW_NUMBER() OVER (PARTITION BY a.anchor_id
        |        ORDER BY round(list_cosine_similarity(CAST(a.avec AS DOUBLE[]), CAST(s.svec AS DOUBLE[])), 6) DESC, s.cell) AS rk
        |    FROM anchors a, seeds s) t WHERE rk <= 3),
        |sc AS (
        |  SELECT p.anchor_id, p.anchor_label, c.vec_id, c.label,
        |    round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(p.avec AS DOUBLE[])), 6) AS sim
        |  FROM cells c JOIN probes p ON c.cell = p.cell
        |  WHERE c.label <> p.anchor_label)
        |SELECT anchor_id, anchor_label, vec_id, label, sim, CAST(rk AS INT) AS rk FROM (
        |  SELECT anchor_id, anchor_label, vec_id, label, sim,
        |    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vec_id) AS rk FROM sc) s
        |WHERE rk <= 5 ORDER BY anchor_id, rk""".stripMargin,
    // q62c: brute-force cross-label top-1 over the PLANTED corpus —
    // the IVF path recovers each anchor's verbatim twin with
    // certainty (assignment purity), so IVF top-1 ≡ exact top-1
    "q62c_hard_negs_planted" ->
      """WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT * FROM base
        |      UNION ALL
        |      SELECT vec_id + 1000000 AS vec_id, label + 100 AS label, emb
        |      FROM base WHERE vec_id % 101 = 0),
        |a AS (SELECT vec_id AS anchor_id, label AS anchor_label, emb AS avec
        |      FROM c WHERE vec_id % 101 = 0),
        |sc AS (SELECT a.anchor_id, a.anchor_label, c.vec_id, c.label,
        |  round(list_cosine_similarity(c.emb, a.avec), 6) AS sim
        |  FROM c JOIN a ON c.label <> a.anchor_label)
        |SELECT anchor_id, anchor_label, vec_id, label, sim, CAST(rk AS INT) AS rk FROM (
        |  SELECT anchor_id, anchor_label, vec_id, label, sim,
        |    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, vec_id) AS rk FROM sc) s
        |WHERE rk <= 1 ORDER BY anchor_id, rk""".stripMargin,
    "q31_quality_score" ->
      s"""SELECT doc_id, wc, n_stop,
         |  CAST(n_stop AS DOUBLE) / wc AS stop_ratio,
         |  LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 500.0) AS len_score,
         |  round(CAST(n_stop AS DOUBLE) / wc * 0.5 + LEAST(1.0, CAST(LENGTH(text) AS DOUBLE) / 500.0) * 0.5, 6) AS quality
         |FROM (SELECT doc_id, text, $wcSql AS wc,
         |        len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to'))) AS n_stop
         |      FROM documents) t
         |ORDER BY doc_id""".stripMargin,
    "q35_bpe_tokens" ->
      s"""SELECT lang, CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens, CAST(SUM(wc) AS BIGINT) AS total_ws_tokens,
         |  CAST(SUM(bpe) AS DOUBLE) / COUNT(*) AS avg_bpe_per_doc,
         |  CAST(SUM(bpe) AS DOUBLE) / SUM(wc) AS bpe_per_word
         |FROM (SELECT lang,
         |        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe,
         |        $wcSql AS wc
         |      FROM documents) t
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q38_doc_chunks" ->
      """SELECT doc_id, lang, CAST(chunk_idx - 1 AS INT) AS chunk_idx,
        |  len(chunk_toks) AS n_tokens,
        |  array_to_string(chunk_toks, ' ') AS chunk_text
        |FROM (
        |  SELECT doc_id, lang, i,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS chunk_idx,
        |    list_slice(string_split(text, ' '), i, i + 31) AS chunk_toks
        |  FROM (
        |    SELECT doc_id, lang, text,
        |      unnest(generate_series(1, greatest(len(string_split(text, ' ')) - 31, 1), 24)) AS i
        |    FROM documents) t) s
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q39_corpus_prep" ->
      corpusPrepOracle(s"SELECT doc_id, $shinglesSql AS sh FROM documents"),
    // q39b: the near-dup CTE runs over exact survivors (min doc_id
    // per text hash) — the scale composition order, same final rows
    // as q39 (see corpusPrepDedupFirst's equivalence argument)
    "q39b_prep_dedup_first" ->
      corpusPrepOracle(
        s"""SELECT d.doc_id, $shinglesSql AS sh
           |      FROM documents d JOIN survivors s ON d.doc_id = s.doc_id""".stripMargin),
    "q32_lang_id" ->
      """SELECT lang, pred_lang, COUNT(*) AS n FROM (
        |  SELECT lang,
        |    CASE WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
        |         WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END AS pred_lang
        |  FROM (
        |    SELECT lang,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and'))) AS h_en,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','y'))) AS h_es,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('le','et','un','du'))) AS h_fr
        |    FROM documents) t) s
        |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,
    "q09_json_extract" ->
      """SELECT CAST(json_extract_string(props, 'k') AS INT) AS k, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,
    "q10_media_markers" ->
      """SELECT event_id, event_type,
        |  CASE WHEN event_type = 'purchase' THEN '[purchase](' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || ')'
        |       WHEN event_type = 'error' THEN '[error](' || props || ')'
        |       WHEN event_type = 'signup' THEN '[signup]'
        |       ELSE event_type || ' ' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) END AS marker
        |FROM events ORDER BY event_id""".stripMargin,
    "q11_message_filter" ->
      """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value
        |FROM events
        |WHERE event_type <> 'error' AND props IS NOT NULL AND value > 0.0
        |ORDER BY event_id""".stripMargin,
    "q12_recipients" ->
      """WITH p AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day,
        |             CAST(json_extract_string(props, 'k') AS INT) AS k FROM events
        |           WHERE json_extract_string(props, 'k') IS NOT NULL
        |             AND user_id IS NOT NULL),
        |sz AS (SELECT day, k, COUNT(*) AS bsz FROM p GROUP BY day, k),
        |ps AS (SELECT p.user_id, p.day, p.k, sz.bsz
        |       FROM p JOIN sz ON p.day = sz.day AND p.k = sz.k),
        |agg AS (SELECT a.user_id AS user_id,
        |          array_to_string(list_sort(list(DISTINCT b.user_id)), ',') AS co_users,
        |          COUNT(DISTINCT b.user_id) AS n_co
        |        FROM ps a JOIN ps b
        |          ON a.day = b.day AND a.k = b.k AND a.user_id <> b.user_id
        |        WHERE a.bsz BETWEEN 2 AND 10000
        |        GROUP BY a.user_id),
        |tr AS (SELECT user_id, COUNT(*) AS n_truncated FROM ps
        |       WHERE bsz > 10000 GROUP BY user_id)
        |SELECT COALESCE(agg.user_id, tr.user_id) AS user_id,
        |  COALESCE(co_users, '') AS co_users,
        |  COALESCE(n_co, 0) AS n_co,
        |  COALESCE(n_truncated, 0) AS n_truncated
        |FROM agg FULL OUTER JOIN tr ON agg.user_id = tr.user_id
        |ORDER BY user_id""".stripMargin,
    "q13_semantic_segments" ->
      """WITH je AS (
        |  SELECT d.doc_id, d.source, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |l AS (SELECT *, LAG(embedding) OVER (PARTITION BY source ORDER BY doc_id) AS prev_emb FROM je),
        |x AS (SELECT doc_id, source,
        |        CASE WHEN prev_emb IS NULL THEN 0.0
        |             ELSE round(1.0 - round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(prev_emb AS DOUBLE[])), 6), 6) END AS dist
        |      FROM l)
        |SELECT doc_id, source, dist,
        |  CAST(SUM(CASE WHEN dist > 1.0 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS segment_id
        |FROM x ORDER BY source, doc_id""".stripMargin,
    "q14_groups" ->
      """WITH je AS (
        |  SELECT d.doc_id, d.source, d.n_chars // 100 AS bucket, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |l AS (SELECT *,
        |        LAG(embedding) OVER (PARTITION BY source ORDER BY doc_id) AS prev_emb,
        |        LAG(bucket) OVER (PARTITION BY source ORDER BY doc_id) AS prev_bucket
        |      FROM je),
        |x AS (SELECT doc_id, source, bucket,
        |        CASE WHEN prev_emb IS NULL THEN 1
        |             WHEN round(1.0 - round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(prev_emb AS DOUBLE[])), 6), 6) > 1.0
        |                  OR bucket <> prev_bucket THEN 1
        |             ELSE 0 END AS brk
        |      FROM l)
        |SELECT doc_id, source, bucket,
        |  CAST(SUM(brk) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS group_id
        |FROM x ORDER BY source, doc_id""".stripMargin,
    "q47_sliding_segments" -> {
      val cs = (j: Int) =>
        s"COALESCE(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(lag_$j AS DOUBLE[])), 0.0)"
      val lags = (1 to 5).map(j =>
        s"LAG(embedding, $j) OVER (PARTITION BY source ORDER BY doc_id) AS lag_$j").mkString(",\n        ")
      val total = (1 to 5).map(cs).foldLeft("1.0")((acc, s) => s"($acc + $s)")
      val nWin = (1 to 5).map(j => s"CASE WHEN lag_$j IS NULL THEN 0 ELSE 1 END").mkString(" + ")
      s"""WITH je AS (
         |  SELECT d.doc_id, d.source, e.embedding
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         |l AS (SELECT doc_id, source, embedding,
         |        $lags
         |      FROM je),
         |y AS (SELECT doc_id, source,
         |        1 + $nWin AS n_win,
         |        round(1.0 - $total / (1 + $nWin), 6) AS dist
         |      FROM l),
         |m AS (SELECT CAST(SUM(CAST(dist AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_dist FROM y)
         |SELECT y.doc_id, y.source, CAST(y.n_win AS INT) AS n_win, y.dist, m.mean_dist,
         |  CAST(SUM(CASE WHEN y.dist > m.mean_dist THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY y.source ORDER BY y.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS segment_id
         |FROM y, m ORDER BY source, doc_id""".stripMargin
    },
    "q50_cluster_details" ->
      """WITH s AS (
        |  SELECT event_id, user_id, chat, props, ts_ms,
        |    CAST(SUM(brk) OVER (PARTITION BY chat ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS brk
        |    FROM (
        |      SELECT event_id, user_id, event_type AS chat, props, epoch_ms(ts) AS ts_ms,
        |        LAG(epoch_ms(ts)) OVER (PARTITION BY event_type ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |      FROM events) a) b),
        |stats AS (
        |  SELECT chat, session_id, COUNT(*) AS n_messages, COUNT(DISTINCT user_id) AS n_participants,
        |    MIN(ts_ms) AS start_ms, MAX(ts_ms) AS end_ms
        |  FROM s GROUP BY chat, session_id),
        |top AS (SELECT * FROM stats ORDER BY n_messages DESC, chat, session_id LIMIT 10),
        |tagged AS (SELECT s.* FROM s JOIN top t ON s.chat = t.chat AND s.session_id = t.session_id),
        |parts AS (
        |  SELECT chat, session_id, user_id, COUNT(*) AS user_msgs,
        |    round(CAST(SUM(LENGTH(props)) AS DOUBLE) / COUNT(props), 6) AS user_avg_len
        |  FROM tagged GROUP BY chat, session_id, user_id),
        |hours AS (
        |  SELECT chat, session_id, ts_ms // 86400000 AS day, (ts_ms // 3600000) % 24 AS hr,
        |    COUNT(*) AS msgs, COUNT(DISTINCT user_id) AS active_users
        |  FROM tagged GROUP BY 1, 2, 3, 4),
        |peak AS (
        |  SELECT chat, session_id, day AS peak_day, hr AS peak_hour,
        |    msgs AS peak_messages, active_users AS peak_users
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY chat, session_id ORDER BY msgs DESC, day, hr) AS rn
        |        FROM hours) x
        |  WHERE rn = 1)
        |SELECT p.chat, p.session_id, t.n_messages, t.n_participants, t.start_ms, t.end_ms,
        |  round((t.end_ms - t.start_ms) / 3600000.0, 6) AS duration_hours,
        |  round(CAST(t.n_messages AS DOUBLE) / greatest((t.end_ms - t.start_ms) / 3600000.0, 0.1), 6) AS messages_per_hour,
        |  k.peak_day, k.peak_hour, k.peak_messages, k.peak_users,
        |  p.user_id, p.user_msgs, p.user_avg_len
        |FROM parts p
        |JOIN top t ON p.chat = t.chat AND p.session_id = t.session_id
        |JOIN peak k ON p.chat = k.chat AND p.session_id = k.session_id
        |ORDER BY p.chat, p.session_id, p.user_id NULLS FIRST""".stripMargin,
    "q51_chats_overview" ->
      """WITH s AS (
        |  SELECT chat, ts_ms,
        |    CAST(SUM(brk) OVER (PARTITION BY chat ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS brk
        |    FROM (
        |      SELECT event_id, event_type AS chat, epoch_ms(ts) AS ts_ms,
        |        LAG(epoch_ms(ts)) OVER (PARTITION BY event_type ORDER BY epoch_ms(ts), event_id) AS prev_ms
        |      FROM events) a) b),
        |cs AS (
        |  SELECT event_type AS chat, COUNT(*) AS message_count,
        |    COUNT(DISTINCT user_id) AS participant_count,
        |    MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms
        |  FROM events GROUP BY event_type),
        |latest AS (
        |  SELECT chat, chat_label FROM (
        |    SELECT event_type AS chat, json_extract_string(props, 'k') AS chat_label,
        |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |    FROM events) t WHERE rn = 1),
        |cl AS (
        |  SELECT chat, COUNT(*) AS cluster_count, CAST(SUM(sz) AS BIGINT) AS clustered_messages,
        |    round(CAST(SUM(sz) AS DOUBLE) / COUNT(*), 6) AS avg_cluster_size,
        |    MAX(sz) AS max_cluster_size
        |  FROM (SELECT chat, session_id, COUNT(*) AS sz FROM s GROUP BY chat, session_id
        |        HAVING COUNT(*) >= 3) z
        |  GROUP BY chat)
        |SELECT cs.chat, COALESCE(l.chat_label, 'unknown') AS chat_label,
        |  cs.message_count, cs.participant_count, cs.first_ms, cs.last_ms,
        |  COALESCE(cl.cluster_count, 0) AS cluster_count,
        |  COALESCE(cl.clustered_messages, 0) AS clustered_messages,
        |  COALESCE(cl.avg_cluster_size, 0.0) AS avg_cluster_size,
        |  COALESCE(cl.max_cluster_size, 0) AS max_cluster_size
        |FROM cs
        |LEFT JOIN latest l ON cs.chat = l.chat
        |LEFT JOIN cl ON cs.chat = cl.chat
        |ORDER BY cs.message_count DESC, cs.chat""".stripMargin,
    "q52_store_stats" ->
      """SELECT
        |  (SELECT COUNT(*) FROM events) AS n_events,
        |  (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
        |  (SELECT COUNT(DISTINCT event_type) FROM events) AS n_chats,
        |  (SELECT COUNT(*) FROM documents) AS n_documents,
        |  (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
        |  (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources,
        |  (SELECT COUNT(*) FROM embeddings) AS n_embeddings,
        |  (SELECT COUNT(DISTINCT label) FROM embeddings) AS n_labels,
        |  (SELECT COUNT(*) FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id) AS docs_with_vec,
        |  (SELECT COUNT(*) FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |   WHERE e.vec_id IS NULL) AS docs_without_vec""".stripMargin,
    "q15_name_mapping" ->
      """SELECT user_id, event_type AS last_kind, ts_ms AS last_seen_ms FROM (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q43_chat_stats" ->
      """SELECT event_type AS chat, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  MIN(epoch_ms(ts)) AS first_ms, MAX(epoch_ms(ts)) AS last_ms,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events
        |GROUP BY event_type ORDER BY chat""".stripMargin,
    "q45_asof_join" ->
      """WITH upd AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, MAX(event_id) AS upd_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ts_ms, COALESCE(u.upd_id, -1) AS asof_upd
        |FROM events e ASOF LEFT JOIN upd u
        |  ON e.user_id = u.user_id AND u.ts_ms <= epoch_ms(e.ts)
        |ORDER BY e.event_id""".stripMargin,
    "q46_range_join" ->
      """SELECT a.event_id, a.user_id, epoch_ms(a.ts) AS ts_ms,
        |  CAST(COUNT(b.event_id) AS BIGINT) AS n_neighbors
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id AND b.event_id <> a.event_id
        |  AND epoch_ms(b.ts) BETWEEN epoch_ms(a.ts) - 300000 AND epoch_ms(a.ts) + 300000
        |GROUP BY a.event_id, a.user_id, epoch_ms(a.ts)
        |ORDER BY a.event_id""".stripMargin,
    "q46b_range_join_binned" ->
      """SELECT a.event_id, a.user_id, epoch_ms(a.ts) AS ts_ms,
        |  CAST(COUNT(b.event_id) AS BIGINT) AS n_neighbors
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id AND b.event_id <> a.event_id
        |  AND epoch_ms(b.ts) BETWEEN epoch_ms(a.ts) - 300000 AND epoch_ms(a.ts) + 300000
        |GROUP BY a.event_id, a.user_id, epoch_ms(a.ts)
        |ORDER BY a.event_id""".stripMargin,
    "q16_vector_topk" ->
      """SELECT query_id, vec_id, sim, CAST(rk AS INT) AS rk FROM (
        |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rk
        |  FROM embeddings q, embeddings e
        |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) t
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    "q17_vector_threshold" ->
      """SELECT query_id, vec_id, sim, 1.0 - sim AS dist FROM (
        |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS sim
        |  FROM embeddings q, embeddings e
        |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) t
        |WHERE sim >= 0.25
        |ORDER BY query_id, sim DESC, vec_id""".stripMargin,
    "q18_vector_join_text" ->
      """SELECT query_id, vec_id, sim, CAST(rk AS INT) AS rk, lang, substr(text, 1, 40) AS preview
        |FROM (
        |  SELECT query_id, vec_id, sim, rk FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS sim,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rk
        |    FROM embeddings q, embeddings e
        |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) s
        |  WHERE rk <= 5) t
        |JOIN documents ON vec_id = doc_id
        |ORDER BY query_id, rk""".stripMargin,
    "q18b_context_snippets" ->
      """WITH hits AS (
        |  SELECT query_id, vec_id, sim, rk FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) AS sim,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rk
        |    FROM embeddings q, embeddings e
        |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) s
        |  WHERE rk <= 5),
        |hd AS (SELECT h.*, d.source FROM hits h JOIN documents d ON h.vec_id = d.doc_id)
        |SELECT h.query_id, h.vec_id, h.sim, CAST(h.rk AS INT) AS rk,
        |  string_agg(n.doc_id || ': ' || substr(n.text, 1, 30), ' | ' ORDER BY n.doc_id) AS context
        |FROM hd h
        |JOIN documents n ON n.source = h.source AND n.doc_id BETWEEN h.vec_id - 2 AND h.vec_id + 2
        |GROUP BY h.query_id, h.vec_id, h.sim, h.rk
        |ORDER BY query_id, rk""".stripMargin,
    "q37_threshold_heatmap" ->
      """SELECT dayofweek(ts) AS dow, hour(ts) AS hour_of_day,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE value >= 50.0
        |GROUP BY dayofweek(ts), hour(ts)
        |ORDER BY dow, hour_of_day""".stripMargin,
    // q78: recall@k of the seeded IVF vs the brute-force truth —
    // both sides' CTEs are the proven q16/q19b oracles verbatim;
    // the recall is one int/int IEEE division.
    "q78_ann_recall" ->
      """WITH brute AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 6) DESC, e.vec_id) AS rk
        |    FROM embeddings q, embeddings e
        |    WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id) t
        |  WHERE rk <= 10),
        |seeds AS (
        |  SELECT label, embedding FROM (
        |    SELECT label, embedding, ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        |    FROM embeddings) s WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, label FROM (
        |    SELECT q.vec_id AS query_id, s.label,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(s.embedding AS DOUBLE[])), 6) DESC, s.label) AS crk
        |    FROM embeddings q, seeds s WHERE q.vec_id < 5) p
        |  WHERE crk <= 3),
        |cand AS (
        |  SELECT p.query_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qq.embedding AS DOUBLE[])), 6) AS sim
        |  FROM probes p
        |  JOIN embeddings e ON e.label = p.label
        |  JOIN embeddings qq ON qq.vec_id = p.query_id
        |  WHERE e.vec_id <> p.query_id),
        |ivf AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
        |    FROM cand) t
        |  WHERE rk <= 10),
        |hits AS (
        |  SELECT b.query_id, COUNT(*) AS n_hit
        |  FROM brute b JOIN ivf i ON i.query_id = b.query_id AND i.vec_id = b.vec_id
        |  GROUP BY b.query_id),
        |qs AS (SELECT query_id, COUNT(*) AS n_brute FROM brute GROUP BY query_id)
        |SELECT qs.query_id, 10 AS k, COALESCE(h.n_hit, 0) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / qs.n_brute AS recall
        |FROM qs LEFT JOIN hits h ON h.query_id = qs.query_id
        |ORDER BY qs.query_id""".stripMargin,
    // q19: mean-centroid IVF, graduated from rows-only in r14. The
    // oracle replays annIvf's exact arithmetic: per-(label,pos)
    // DECIMAL(20,10) sums cast to DOUBLE (correctly rounded on both
    // engines — the unscaled sum stays under 2^53) then ONE IEEE
    // double division and a FLOAT cast, and cosine on both engines is
    // a SEQUENTIAL double accumulation over the array (graft's
    // cosine_sim kernel; DuckDB's list_cosine_similarity) —
    // bit-identical by construction, so even the UNROUNDED probe
    // ranking agrees. (Decimal÷bigint division is deliberately NOT
    // used on either side: its result scale and rounding point are
    // engine-specific — the 5-row csim drift the q41 replay exposed.
    // The inner CAST(v AS DOUBLE) matters too: DuckDB's direct
    // FLOAT→DECIMAL cast multiplies in float32 and loses ~7 digits,
    // while Spark promotes through double — CAST(CAST(v AS DOUBLE)
    // AS DECIMAL(20,10)) reproduces Spark's cast bit-for-bit,
    // verified value-by-value.)
    "q19_ann_ivf" ->
      """WITH ex AS (
        |  SELECT label, unnest(embedding) AS v, unnest(range(len(embedding))) AS pos FROM embeddings),
        |cm AS (
        |  SELECT label, pos, CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        |  FROM ex GROUP BY label, pos),
        |cents AS (
        |  SELECT label, list(CAST(c AS FLOAT) ORDER BY pos) AS cvec FROM cm GROUP BY label),
        |probes AS (
        |  SELECT query_id, label FROM (
        |    SELECT q.vec_id AS query_id, s.label,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(s.cvec AS DOUBLE[])) DESC, s.label) AS crk
        |    FROM embeddings q, cents s WHERE q.vec_id < 5) p
        |  WHERE crk <= 3),
        |cand AS (
        |  SELECT p.query_id, e.vec_id, e.label,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qq.embedding AS DOUBLE[])), 6) AS sim
        |  FROM probes p
        |  JOIN embeddings e ON e.label = p.label
        |  JOIN embeddings qq ON qq.vec_id = p.query_id
        |  WHERE e.vec_id <> p.query_id)
        |SELECT query_id, vec_id, label, sim, CAST(rk AS INT) AS rk FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
        |  FROM cand) t
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    "q19b_ann_ivf_seeded" -> annIvfSeededSql,
    "q44_dedup_emb_lsh" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
        |ORDER BY vec_a, vec_b""".stripMargin,
    // q29d shares q44's brute-force oracle verbatim: same planted
    // derived input, same threshold, provably equal output — only the
    // BLOCKING differs (IVF cells vs sign-LSH bands), and planted
    // recovery is certain for both (identical vectors ⇒ identical
    // probe cells / identical sign bits).
    // q29b/q29c: the weak-threshold IVF-blocked dedup, graduated from
    // rows-only in r14 — the oracle REPLAYS the engine's own blocking
    // rather than trying to out-recall it: residue-seeded cells,
    // decimal-mean centroids (double-promoted cast, see q19), top-2
    // multi-probe assignment by 6dp-rounded cosine with cell
    // tie-break, pairs sharing any probed cell, exact-cosine ≥ 0.3
    // verify. Every step is the engine-portable arithmetic the
    // q19/q41 graduation established. Valid for the FLAT assignment
    // path (lists ≤ 64 ⇔ corpus ≤ 8125 vectors — all gate SFs; the
    // two-level path at larger corpora is covered by the planted twin
    // q29d and the equivalence specs). q29c shares this verbatim: the
    // persisted index is value-identical by spec.
    "q29b_dedup_emb_ivf" ->
      """WITH p AS (SELECT GREATEST(16, CAST(COUNT(*) // 125 AS INT)) AS lists FROM embeddings),
        |ex AS (
        |  SELECT CAST(e.vec_id % p.lists AS INT) AS cell, unnest(e.embedding) AS v,
        |         unnest(range(len(e.embedding))) AS pos
        |  FROM embeddings e, p),
        |cm AS (SELECT cell, pos, CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        |       FROM ex GROUP BY cell, pos),
        |cents AS (SELECT cell, list(CAST(c AS FLOAT) ORDER BY pos) AS cvec FROM cm GROUP BY cell),
        |probes AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) AS rk
        |    FROM embeddings e, cents c) t WHERE rk <= 2),
        |cands AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM probes a JOIN probes b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, sim FROM (
        |  SELECT c.vec_a, c.vec_b,
        |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 6) AS sim
        |  FROM cands c
        |  JOIN embeddings ea ON ea.vec_id = c.vec_a
        |  JOIN embeddings eb ON eb.vec_id = c.vec_b) t
        |WHERE sim >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,
    "q29c_dedup_ivf_indexed" ->
      """WITH p AS (SELECT GREATEST(16, CAST(COUNT(*) // 125 AS INT)) AS lists FROM embeddings),
        |ex AS (
        |  SELECT CAST(e.vec_id % p.lists AS INT) AS cell, unnest(e.embedding) AS v,
        |         unnest(range(len(e.embedding))) AS pos
        |  FROM embeddings e, p),
        |cm AS (SELECT cell, pos, CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        |       FROM ex GROUP BY cell, pos),
        |cents AS (SELECT cell, list(CAST(c AS FLOAT) ORDER BY pos) AS cvec FROM cm GROUP BY cell),
        |probes AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) AS rk
        |    FROM embeddings e, cents c) t WHERE rk <= 2),
        |cands AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM probes a JOIN probes b ON a.cell = b.cell AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, sim FROM (
        |  SELECT c.vec_a, c.vec_b,
        |    round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 6) AS sim
        |  FROM cands c
        |  JOIN embeddings ea ON ea.vec_id = c.vec_a
        |  JOIN embeddings eb ON eb.vec_id = c.vec_b) t
        |WHERE sim >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,
    "q29d_dedup_ivf_planted" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 20 = 0)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
        |ORDER BY vec_a, vec_b""".stripMargin,
    // q41: the Lloyd loop replayed verbatim — graduated from
    // rows-only in r14 alongside q19 (same portability argument:
    // exact decimal sums → one double division → float centroids →
    // sequential-double cosine, every step bit-identical across
    // engines). Two unrolled iterations: label-seeded cells →
    // decimal-mean centroids → top-1 by 6dp-rounded cosine with cell
    // tie-break, twice; output is the final (cell, csim) per vector.
    "q41_kmeans_ivf" ->
      """WITH a0 AS (SELECT vec_id, embedding, label AS cell FROM embeddings),
        |ex1 AS (SELECT cell, unnest(embedding) AS v, unnest(range(len(embedding))) AS pos FROM a0),
        |cm1 AS (SELECT cell, pos, CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        |        FROM ex1 GROUP BY cell, pos),
        |c1 AS (SELECT cell, list(CAST(c AS FLOAT) ORDER BY pos) AS cvec FROM cm1 GROUP BY cell),
        |a1 AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) AS rk
        |    FROM embeddings e, c1 c) t WHERE rk = 1),
        |ex2 AS (SELECT cell, unnest(embedding) AS v, unnest(range(len(embedding))) AS pos FROM a1),
        |cm2 AS (SELECT cell, pos, CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        |        FROM ex2 GROUP BY cell, pos),
        |c2 AS (SELECT cell, list(CAST(c AS FLOAT) ORDER BY pos) AS cvec FROM cm2 GROUP BY cell)
        |SELECT vec_id, cell, csim FROM (
        |  SELECT e.vec_id, c.cell,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) AS csim,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) AS rk
        |  FROM embeddings e, c2 c) t
        |WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    // q41b: assignment purity — a verbatim copy (same label, same
    // embedding) can never diverge from its original through the
    // Lloyd loop, so every planted pair co-assigns with certainty and
    // the oracle is the pair set itself.
    "q41b_kmeans_planted" ->
      """SELECT vec_id AS vec_a, vec_id + 1000000 AS vec_b, TRUE AS co_assigned
        |FROM embeddings WHERE vec_id % 20 = 0 ORDER BY 1""".stripMargin,
    // q67g: the planted-pair ADC-floor contract — a verbatim copy of
    // each query vector must be its top-1 (the self-pair drops; the
    // copy sits at the ADC floor in the query's own probed cell), so
    // the oracle is the pair set itself, no PQ replay.
    "q67g_ivfpq_planted" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS vec_id, 1 AS rk
        |FROM embeddings WHERE vec_id < 5 ORDER BY 1""".stripMargin,
    // q91: the same planted-floor truth, minus the rank column (the
    // stream gate emits hits, not ranked lists; the argmin pair IS
    // the contract)
    "q91_stream_ann" ->
      """SELECT vec_id AS query_id, vec_id + 1000000 AS hit_id
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    // q67 family: graduated from rows-only in r15 — the full PQ/IVF-PQ
    // pipeline replayed in DuckDB (see the pqCtesSql block's portability
    // argument). q67c/q67d share q67/q67b's oracle verbatim: the
    // persisted index is value-identical by spec (PqSpec), persistence
    // changes where bytes live, never what they are. q67f's oracle
    // trains structure + books on the base corpus (vec_id % 16 <> 0) and
    // scans the frozen-structure union — exactly the engine's
    // base ∪ delta probe by the increments-commute law.
    "q67_pq_topk" -> pqTopKSql,
    "q67c_pq_indexed" -> pqTopKSql,
    "q67b_ivfpq_topk" -> pqIvfTopKSql(""),
    "q67d_ivfpq_indexed" -> pqIvfTopKSql(""),
    "q67f_ivfpq_incr" -> pqIvfTopKSql("WHERE vec_id % 16 <> 0"),
    "q67e_pq_encode_incr" -> pqEncodeIncrSql,
    "q48_ivf_persisted" -> annIvfSeededSql,
    "q48b_index_stats" ->
      """SELECT label AS cell, COUNT(*) AS n_vecs,
        |  CAST(MIN(len(embedding)) AS INT) AS dim,
        |  MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
        |FROM embeddings GROUP BY label ORDER BY cell""".stripMargin,
    // q49: GRADUATED r15 — the stub encoder replayed end to end. The
    // stub is integer-hash-derived (Java String.hashCode → splitmix64
    // per component) with float normalize; the replay does the
    // hashCode as a signed-32 wrapping fold, the splitmix64 chains via
    // umulSql, and EVERY binary32 op as DOUBLE-compute-then-REAL-cast —
    // exact by the double-rounding theorem (for +,-,*,/ and sqrt on
    // p-bit inputs, computing in 2p+2-bit precision then rounding to
    // p bits equals direct p-bit rounding; 2·24+2 = 50 ≤ 53). The
    // probe columns v0/comp_sum expose the vector content, so this
    // certifies the seed→component→normalize arithmetic per row, not
    // just the unit-norm invariant. Same ASCII precondition as q28's
    // replay (ord == UTF-16 unit == byte — gate-verified at all SFs).
    // When a real model lands in encodeBatch this entry reverts to
    // rows-only by design.
    "q49_text_encode" ->
      s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |$encodeReplayChain
         |SELECT doc_id, CAST(64 AS INT) AS dim,
         |  round(sqrt(list_reduce(list_prepend(0.0, list_transform(vs, x -> CAST(x AS DOUBLE))), (a, x) -> a + x * x)), 6) AS l2_norm,
         |  CAST(vs[1] AS DOUBLE) AS v0,
         |  list_reduce(list_prepend(0.0, list_transform(vs, x -> CAST(x AS DOUBLE))), (a, x) -> a + x) AS comp_sum
         |FROM vv
         |ORDER BY doc_id""".stripMargin,
    "q49b_encode_hashed" ->
      s"""WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
         |$hashedEncodeReplayChain
         |SELECT doc_id, CAST(64 AS INT) AS dim,
         |  round(sqrt(list_reduce(list_prepend(0.0, list_transform(vs, x -> CAST(x AS DOUBLE))), (a, x) -> a + x * x)), 6) AS l2_norm,
         |  CAST(vs[1] AS DOUBLE) AS v0,
         |  list_reduce(list_prepend(0.0, list_transform(vs, x -> CAST(x AS DOUBLE))), (a, x) -> a + x) AS comp_sum
         |FROM hvv
         |ORDER BY doc_id""".stripMargin,
    "q42_embedding_stats" ->
      """SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm,
        |  MIN(norm) AS min_norm, MAX(norm) AS max_norm
        |FROM (
        |  SELECT label,
        |    round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))), 6) AS norm
        |  FROM embeddings) t
        |GROUP BY label ORDER BY label""".stripMargin,
    "q36_top_words" ->
      """SELECT lang, word, n, CAST(rk AS INT) AS rk FROM (
        |  SELECT lang, word, COUNT(*) AS n,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, word) AS rk
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) t
        |  GROUP BY lang, word) s
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    "q20_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM($discPrice) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($discPrice * (CAST('1.00' AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q21_top_orders" ->
      s"""SELECT o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority,
         |  CAST(rev_exact AS DOUBLE) AS revenue
         |FROM (
         |  SELECT o_orderkey, o_orderdate, o_orderpriority, SUM($discPrice) AS rev_exact
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  GROUP BY o_orderkey, o_orderdate, o_orderpriority
         |  ORDER BY rev_exact DESC, o_orderkey
         |  LIMIT 10
         |) t""".stripMargin,
    "q22_region_volume" ->
      s"""SELECT n_name, CAST(rev_exact AS DOUBLE) AS revenue
         |FROM (
         |  SELECT n_name, SUM($discPrice) AS rev_exact
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'ASIA'
         |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY n_name
         |  ORDER BY rev_exact DESC, n_name
         |) t""".stripMargin,
    "q23_windowed_topn" ->
      s"""SELECT p_brand, p_partkey, CAST(rev_exact AS DOUBLE) AS revenue, rk
         |FROM (
         |  SELECT p_brand, p_partkey, rev_exact,
         |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY rev_exact DESC, p_partkey) AS rk
         |  FROM (
         |    SELECT l_partkey, SUM($discPrice) AS rev_exact
         |    FROM lineitem GROUP BY l_partkey
         |  ) r JOIN part ON p_partkey = l_partkey
         |) t WHERE rk <= 3
         |ORDER BY p_brand, rk""".stripMargin,
    "q24_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // q81: McpTools.vectorSearchById(vecId=3, topK=10, threshold=0.25,
    // cluster context on) — the MCP vector_search tool below the
    // encoder seam, replayed verbatim (server.py:119-189 /
    // vector_store.py:315-383's top-k cosine + threshold + text join)
    "q81_mcp_search" ->
      s"""WITH $groupsCteClauses,
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 3),
         |scored AS (
         |  SELECT e.vec_id,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qv.embedding AS DOUBLE[])), 6) AS sim
         |  FROM embeddings e, qv),
         |topk AS (
         |  SELECT vec_id, sim, CAST(rk AS INT) AS rk FROM (
         |    SELECT vec_id, sim, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rk
         |    FROM scored WHERE sim >= 0.25) h
         |  WHERE rk <= 10),
         |lead AS (SELECT source AS c_source, group_id AS c_group, MIN(doc_id) AS lead_id
         |         FROM grp GROUP BY 1, 2),
         |leadp AS (SELECT c_source, c_group, substr(d.text, 1, 40) AS cluster_preview
         |          FROM lead JOIN documents d ON d.doc_id = lead_id)
         |SELECT t.vec_id, t.sim, t.rk, d.source, d.lang,
         |  substr(d.text, 1, 40) AS preview, g.group_id, lp.cluster_preview
         |FROM topk t
         |JOIN documents d ON d.doc_id = t.vec_id
         |LEFT JOIN grp g ON g.doc_id = t.vec_id
         |LEFT JOIN leadp lp ON lp.c_source = d.source AND lp.c_group = g.group_id
         |ORDER BY t.rk""".stripMargin,
    // q81b: McpTools.clusterSearchById(vecId=3, topK=50, max=10,
    // threshold=0.25) — the cluster_search aggregation
    // (server.py:191-276): best sim, hit count, best hit's preview
    "q81b_mcp_clusters" ->
      s"""WITH $groupsCteClauses,
         |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 3),
         |scored AS (
         |  SELECT e.vec_id,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qv.embedding AS DOUBLE[])), 6) AS sim
         |  FROM embeddings e, qv),
         |topk AS (
         |  SELECT vec_id, sim FROM (
         |    SELECT vec_id, sim, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rk
         |    FROM scored WHERE sim >= 0.25) h
         |  WHERE rk <= 50),
         |hg AS (
         |  SELECT t.vec_id, t.sim, g.source, g.group_id, substr(d.text, 1, 40) AS preview
         |  FROM topk t
         |  JOIN documents d ON d.doc_id = t.vec_id
         |  JOIN grp g ON g.doc_id = t.vec_id),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY group_id, source
         |             ORDER BY sim DESC, vec_id) AS m FROM hg),
         |agg AS (SELECT group_id, source, MAX(sim) AS best_similarity,
         |          CAST(COUNT(*) AS BIGINT) AS hits
         |        FROM hg GROUP BY 1, 2)
         |SELECT a.group_id, a.source, a.best_similarity, a.hits, r.preview AS snippet
         |FROM agg a JOIN ranked r
         |  ON r.group_id = a.group_id AND r.source = a.source AND r.m = 1
         |ORDER BY a.best_similarity DESC, a.hits DESC, a.group_id, a.source
         |LIMIT 10""".stripMargin,
    // q81c: getCluster on the first (source, group) with >= 3 members
    // — the same deterministic pick the Spark entry computes
    "q81c_mcp_get_cluster" ->
      s"""WITH $groupsCteClauses,
         |pick AS (SELECT source, group_id FROM grp GROUP BY source, group_id
         |         HAVING COUNT(*) >= 3 ORDER BY source, group_id LIMIT 1)
         |SELECT g.doc_id, g.source, g.group_id, d.lang, d.text
         |FROM grp g JOIN pick p ON g.source = p.source AND g.group_id = p.group_id
         |JOIN documents d ON d.doc_id = g.doc_id
         |ORDER BY g.doc_id""".stripMargin,
    // q81d: randomLargeCluster(minSize=3, seed=42) — the seeded pick
    // (khash over group_id, ties by (source, group_id)) and the full
    // membership + text join replayed verbatim (server.py:331-370)
    "q81d_mcp_random_cluster" ->
      s"""WITH $groupsCteClauses,
         |sz AS (SELECT source, group_id FROM grp GROUP BY source, group_id
         |       HAVING COUNT(*) >= 3),
         |pick AS (SELECT source, group_id FROM (
         |    SELECT source, group_id,
         |      ((((group_id % 2147483648 + 2147483648) % 2147483648) * 2654435761 + 42) % 4294967296) AS hkey FROM sz) h
         |  ORDER BY hkey, source, group_id LIMIT 1)
         |SELECT g.doc_id, g.source, g.group_id, d.lang, d.text
         |FROM grp g JOIN pick p ON g.source = p.source AND g.group_id = p.group_id
         |JOIN documents d ON d.doc_id = g.doc_id
         |ORDER BY g.doc_id""".stripMargin,
    // q82: Curation.pseudonymize — pools spliced from the SAME Scala
    // values the operator reads (Curation.Pseudonyms), khash is the
    // identical BIGINT arithmetic on both engines
    "q82_pseudonymize" -> {
      def lst(pool: Seq[String]): String =
        pool.map(s => "'" + s.replace("'", "''") + "'").mkString("[", ", ", "]")
      // DuckDB's % is SIGNED (Spark side uses pmod) — the double-mod
      // makes the pre-mask non-negative for ANY id, so engine-identity
      // holds unconditionally, not just for ids >= 0 (ADVICE r14).
      def khashSql(c: String): String =
        s"(((($c % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296)"
      def pickSql(pool: Seq[String]): String =
        s"${lst(pool)}[CAST(${khashSql("e.event_id")} % ${pool.size} AS INT) + 1]"
      import operators.Curation.Pseudonyms._
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |m AS (SELECT user_id,
         |        CAST(${khashSql("user_id")} % ${basePool.size} AS INT) AS base,
         |        ROW_NUMBER() OVER (
         |          PARTITION BY CAST(${khashSql("user_id")} % ${basePool.size} AS INT)
         |          ORDER BY user_id) AS ord
         |      FROM u),
         |p AS (SELECT user_id, ${lst(basePool)}[base + 1] || '-' || ord AS pseudonym FROM m)
         |SELECT e.event_id, p.pseudonym,
         |  CASE
         |    WHEN e.props IS NULL OR len(trim(e.props)) = 0 THEN ${pickSql(questionPool)}
         |    WHEN ends_with(e.props, '?') THEN ${pickSql(questionPool)}
         |    WHEN len(e.props) < 20 THEN ${pickSql(shortPool)}
         |    WHEN len(e.props) < 50 THEN ${pickSql(questionPool)}
         |    ELSE ${pickSql(longPool)}
         |  END AS text
         |FROM events e JOIN p USING (user_id)
         |ORDER BY e.event_id""".stripMargin
    },
    // q92: the exact k-NN graph — brute-force all-pairs + per-node
    // top-10 by (6dp cosine DESC, nb_id ASC), q16's ranking rule over
    // the whole corpus instead of 5 queries.
    // AS MATERIALIZED: DuckDB otherwise inlines the cast CTE into
    // both sides of the non-equi self-join and the all-pairs pass
    // re-casts per evaluation — measured 7.6s vs >10 min at sf0.1.
    "q92_knn_graph" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT vec_id, nb_id, sim, CAST(rk AS INT) AS rk FROM (
        |  SELECT a.vec_id, b.vec_id AS nb_id,
        |    round(list_cosine_similarity(a.emb, b.emb), 6) AS sim,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY round(list_cosine_similarity(a.emb, b.emb), 6) DESC, b.vec_id) AS rk
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id) t
        |WHERE rk <= 10 ORDER BY vec_id, rk""".stripMargin,
    // q92b: the planted NN-descent contract (q41b/q67g's argument in
    // graph form) — a verbatim copy shares its original's IVF cell,
    // meets it at init at sim 1.0 (the maximum; unique per node —
    // GateInvariants' vector check), and survives every top-k prune,
    // so each copy's rank-1 edge is its original and the oracle is
    // the pair set itself.
    "q92b_nndescent_gate" ->
      """SELECT vec_id AS query_id, vec_id AS hit_id
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,
    // q92c: mutual-kNN edges at sim >= 0.4 over the exact graph →
    // connected components (q53's recursive-CTE fixpoint) → cluster
    // assignment; singletons omitted (q53's output-domain rule).
    "q92c_semantic_clusters" ->
      """WITH RECURSIVE e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |knn AS MATERIALIZED (
        |  SELECT vec_id, nb_id, sim FROM (
        |    SELECT a.vec_id, b.vec_id AS nb_id,
        |      round(list_cosine_similarity(a.emb, b.emb), 6) AS sim,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |        ORDER BY round(list_cosine_similarity(a.emb, b.emb), 6) DESC, b.vec_id) AS rk
        |    FROM e a JOIN e b ON a.vec_id <> b.vec_id) t
        |  WHERE rk <= 10),
        |m AS (SELECT x.vec_id AS a, x.nb_id AS b FROM knn x JOIN knn y
        |      ON x.vec_id = y.nb_id AND x.nb_id = y.vec_id
        |      WHERE x.vec_id < x.nb_id AND x.sim >= 0.4),
        |edges AS (SELECT a, b FROM m UNION ALL SELECT b AS a, a AS b FROM m),
        |reach AS (
        |  SELECT a AS id, a AS lbl FROM edges
        |  UNION
        |  SELECT g.a AS id, r.lbl FROM edges g JOIN reach r ON r.id = g.b),
        |comp AS (SELECT id, MIN(lbl) AS rep FROM reach GROUP BY id),
        |sz AS (SELECT rep, COUNT(*) AS n FROM comp GROUP BY rep)
        |SELECT c.id AS vec_id, c.rep AS cluster_rep, sz.n AS cluster_size,
        |  (c.id = c.rep) AS is_rep
        |FROM comp c JOIN sz ON c.rep = sz.rep
        |ORDER BY cluster_rep, vec_id""".stripMargin,
    // q92d: planted text copies rank their source first — identical
    // text ⇒ identical hashed vector ⇒ 6dp cosine 1.0, ties broken
    // by id, so the expected neighbor is the source's md5-group
    // MINIMUM; no float replay needed (cosine of identical float
    // vectors rounds to exactly 1.0 at 6dp). The no-impostor
    // precondition (zero vectors, permuted-token twins, 6dp near-
    // ties from outside the md5 group) is GateInvariants' hashed
    // check, run by Verify whenever this query is requested.
    "q92d_knn_text_twins" ->
      """WITH g AS (SELECT doc_id, md5(text) AS h FROM documents),
        |s AS (SELECT doc_id, h FROM g WHERE doc_id % 20 = 0)
        |SELECT s.doc_id + 1000000 AS q_id,
        |  (SELECT MIN(doc_id) FROM g WHERE g.h = s.h) AS nb_id,
        |  CAST(1.0 AS DOUBLE) AS sim
        |FROM s ORDER BY q_id""".stripMargin,
    // q92e: a planted copy and its original form a mutual rank-1 edge
    // at sim 1.0 (the unique per-node maximum — GateInvariants'
    // vector check) in ANY graph the descent produces, so they
    // co-cluster under connected components BY CONSTRUCTION and the
    // oracle is the planted SELECT (q92b's argument, CC-composed).
    "q92e_descent_clusters" ->
      """SELECT vec_id AS query_id, CAST(TRUE AS BOOLEAN) AS co_clustered
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,
    // q92f: the delta copy lands in its original's cell (pure-function
    // assignment replay), scores 6dp cosine 1.0 (unique maximum), and
    // survives the top-k prune — its rank-1 edge in the incremented
    // graph is its original.
    "q92f_knn_increment" ->
      """SELECT vec_id AS query_id, vec_id AS hit_id
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,
    // q93: entry-point assignment replays the build's pure function,
    // so a copy's entry set CONTAINS its original at sim 1.0 — the
    // argmax over visited nodes is the original regardless of how the
    // greedy walk explores.
    "q93_graph_walk" ->
      """SELECT vec_id AS query_id, vec_id AS hit_id
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,
    // q92g: q92f's gate argument, CC-composed (q92e's oracle shape) —
    // the copy↔original mutual rank-1 edge at 1.0 survives the
    // increment's merge re-prune, so the pair co-clusters in the
    // indexed graph exactly as in the fresh-descent one.
    "q92g_indexed_clusters" ->
      """SELECT vec_id AS query_id, CAST(TRUE AS BOOLEAN) AS co_clustered
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,
    // q93b: FULL REPLAY of the walk-recall composition (q78's
    // discipline, graph-walk form). The graph is the zero-iteration
    // modular-ring build — per-node top-10 by (6dp cosine DESC, dst)
    // over {IVF-cell co-members} ∪ {(idx+j) mod n, j=1..10} — and the
    // walk unrolls maxHops=3 frontier/expand/score/visited rounds
    // exactly as graphWalkOn executes them (fixed unroll ≡ the early-
    // stop loop: an empty fresh set makes every later hop empty).
    // Valid for the flat assignment path (lists ≤ 64 — all gate SFs).
    "q93b_walk_recall" ->
      """WITH p AS (SELECT GREATEST(16, CAST(COUNT(*) // 125 AS INT)) AS lists,
        |                  COUNT(*) AS n FROM embeddings),
        |seedr AS (
        |  SELECT cell, vec_id, embedding,
        |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        |  FROM (SELECT CAST(e.vec_id % p.lists AS INT) AS cell, e.vec_id, e.embedding
        |        FROM embeddings e, p) t),
        |cents AS (SELECT cell, embedding AS cvec FROM seedr WHERE rn = 1),
        |cells AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) AS rk
        |    FROM embeddings e, cents c) t WHERE rk = 1),
        |idx AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS i FROM embeddings),
        |cand AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT a.vec_id AS src, b.vec_id AS dst
        |    FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        |    UNION ALL
        |    SELECT a.vec_id AS src, b.vec_id AS dst
        |    FROM idx a, p, range(1, 11) r(j), idx b
        |    WHERE b.i = (a.i + r.j) % p.n AND b.i <> a.i) u),
        |graph AS (
        |  SELECT src, dst FROM (
        |    SELECT c.src, c.dst,
        |      ROW_NUMBER() OVER (PARTITION BY c.src
        |        ORDER BY round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 6) DESC, c.dst) AS rk
        |    FROM cand c JOIN embeddings ea ON ea.vec_id = c.src
        |                JOIN embeddings eb ON eb.vec_id = c.dst) t
        |  WHERE rk <= 10),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |qc AS (
        |  SELECT q_id, cell FROM (
        |    SELECT qq.q_id, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY qq.q_id
        |        ORDER BY round(list_cosine_similarity(CAST(qq.q_emb AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) DESC, c.cell) AS rk
        |    FROM q qq, cents c) t WHERE rk = 1),
        |v0 AS (
        |  SELECT qc.q_id, m.vec_id AS node,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qq.q_emb AS DOUBLE[])), 6) AS sim
        |  FROM qc JOIN cells m ON m.cell = qc.cell
        |  JOIN embeddings e ON e.vec_id = m.vec_id
        |  JOIN q qq ON qq.q_id = qc.q_id),
        |f1 AS (SELECT q_id, node FROM (
        |  SELECT q_id, node, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, node) AS rk FROM v0) t
        |  WHERE rk <= 8),
        |n1 AS (
        |  SELECT x.q_id, x.node,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qq.q_emb AS DOUBLE[])), 6) AS sim
        |  FROM (SELECT DISTINCT f.q_id, g.dst AS node
        |        FROM f1 f JOIN graph g ON g.src = f.node
        |        WHERE NOT EXISTS (SELECT 1 FROM v0 v WHERE v.q_id = f.q_id AND v.node = g.dst)) x
        |  JOIN embeddings e ON e.vec_id = x.node JOIN q qq ON qq.q_id = x.q_id),
        |vis1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM n1),
        |f2 AS (SELECT q_id, node FROM (
        |  SELECT q_id, node, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, node) AS rk FROM n1) t
        |  WHERE rk <= 8),
        |n2 AS (
        |  SELECT x.q_id, x.node,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qq.q_emb AS DOUBLE[])), 6) AS sim
        |  FROM (SELECT DISTINCT f.q_id, g.dst AS node
        |        FROM f2 f JOIN graph g ON g.src = f.node
        |        WHERE NOT EXISTS (SELECT 1 FROM vis1 v WHERE v.q_id = f.q_id AND v.node = g.dst)) x
        |  JOIN embeddings e ON e.vec_id = x.node JOIN q qq ON qq.q_id = x.q_id),
        |vis2 AS (SELECT * FROM vis1 UNION ALL SELECT * FROM n2),
        |f3 AS (SELECT q_id, node FROM (
        |  SELECT q_id, node, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, node) AS rk FROM n2) t
        |  WHERE rk <= 8),
        |n3 AS (
        |  SELECT x.q_id, x.node,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qq.q_emb AS DOUBLE[])), 6) AS sim
        |  FROM (SELECT DISTINCT f.q_id, g.dst AS node
        |        FROM f3 f JOIN graph g ON g.src = f.node
        |        WHERE NOT EXISTS (SELECT 1 FROM vis2 v WHERE v.q_id = f.q_id AND v.node = g.dst)) x
        |  JOIN embeddings e ON e.vec_id = x.node JOIN q qq ON qq.q_id = x.q_id),
        |vis3 AS (SELECT * FROM vis2 UNION ALL SELECT * FROM n3),
        |walked AS (SELECT q_id, node FROM (
        |  SELECT q_id, node, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, node) AS rk
        |  FROM vis3 WHERE node <> q_id) t WHERE rk <= 10),
        |brute AS (SELECT q_id, node FROM (
        |  SELECT qq.q_id, e.vec_id AS node,
        |    ROW_NUMBER() OVER (PARTITION BY qq.q_id
        |      ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(qq.q_emb AS DOUBLE[])), 6) DESC, e.vec_id) AS rk
        |  FROM q qq, embeddings e WHERE e.vec_id <> qq.q_id) t
        |  WHERE rk <= 10),
        |hits AS (SELECT b.q_id, COUNT(*) AS n_hit
        |  FROM brute b JOIN walked w ON w.q_id = b.q_id AND w.node = b.node
        |  GROUP BY b.q_id),
        |qs AS (SELECT q_id, COUNT(*) AS n_brute FROM brute GROUP BY q_id)
        |SELECT qs.q_id AS query_id, 10 AS k, COALESCE(h.n_hit, 0) AS n_hit,
        |  CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / qs.n_brute AS recall
        |FROM qs LEFT JOIN hits h ON h.q_id = qs.q_id
        |ORDER BY query_id""".stripMargin
  )
}
