package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, SimSearch, TextStats, TopK}

/** Scaling-curve bench over the dedup/ANN operator family (r3 VERDICT #8):
  * run the PRODUCTION operators (not the gate queries, whose exact-twin
  * oracles are deliberately quadratic verification harnesses) on two
  * directories — normally sf0.1 and a ScaleData-augmented ~10× corpus —
  * and report wall seconds + result counts per operator, one JSON line
  * per directory. SCALE.md holds the analyzed table.
  *
  * Usage: runMain graft.tools.ScaleBench <dir1> [dir2 ...]
  */
object ScaleBench {
  private type Op = (SparkSession, String) => Long

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private val ops: Seq[(String, Op)] = Seq(
    "exact_dedup" -> ((s, d) => Dedup.byFingerprint(docs(s, d)).count()),
    "minhash_pairs" -> ((s, d) =>
      Dedup.minhashNearDuplicates(docs(s, d), "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.7,
        useWordShingles = true).count()),
    "blocked_jaccard" -> ((s, d) =>
      Dedup.blockedJaccardPairs(docs(s, d), "text", "doc_id",
        Seq("lang", "n_chars"), threshold = 0.5).count()),
    "simhash_pairs" -> ((s, d) =>
      Dedup.simhashNearDuplicates(docs(s, d), "text", "doc_id",
        maxHammingDistance = 8).count()),
    "simhash_clusters" -> ((s, d) =>
      Dedup.simhashClusters(
        docs(s, d).select(col("doc_id").as("id"),
          graft.functions.VectorExpressions.simhash64(
            TextStats.tokens(lower(col("text")))).as("fp"))
          .filter(col("fp").isNotNull),
        maxHammingDistance = 8).count()),
    "threshold_search" -> ((s, d) => {
      val e = emb(s, d)
      SimSearch.thresholdSearch(
        e.filter(col("vec_id") >= 50), e.filter(col("vec_id") < 50),
        threshold = 0.35).count()
    }),
    "reservoir_topk" -> ((s, d) => {
      graft.GraftExtensions.install(s)
      TopK.perKey(
        docs(s, d).select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string")).as("hk")),
        keyCols = Seq("lang"), orderCol = "hk", tiebreakCol = "doc_id",
        k = 20, asc = true).count()
    }),
    "lsh_topk" -> ((s, d) => {
      val e = emb(s, d)
      SimSearch.lshTopK(
        e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
        k = 5, planes = 4, probeRadius = 1).count()
    }),
    "ivf_topk" -> ((s, d) => {
      val e = emb(s, d)
      val corpus = e.filter(col("vec_id") >= 10)
      val cents = SimSearch.sampledCentroids(corpus, k = 8)
      SimSearch.ivfTopK(corpus, e.filter(col("vec_id") < 10), k = 5,
        centroids = cents, nprobe = 2).count()
    }),
    // corpus-quality signal queries (q104-q106): gram-explode aggregation
    // paths whose scaling story (keyed shuffles, pinned gram reuse,
    // broadcast rates) should hold at 10x like the dedup family's.
    "repetition_signals" -> ((s, d) =>
      graft.Queries.repetitionSignals(s, d).count()),
    "domain_mix" -> ((s, d) => graft.Queries.domainMix(s, d).count()),
    "ngram_novelty" -> ((s, d) => graft.Queries.ngramNovelty(s, d).count()),
    // round-5 corpus-surgery family (q118-q123): passage dedup's
    // first-occurrence hash agg, single-scan mixture/split layouts,
    // row-local chunk enumeration, vocab aggregation, and histogram-exact
    // winsorization — all designed to shuffle fingerprints/aggregates,
    // never corpus rows.
    "passage_dedup" -> ((s, d) => graft.Queries.passageDedup(s, d).count()),
    "temperature_mix" -> ((s, d) => graft.Queries.temperatureMix(s, d).count()),
    "stratified_split" -> ((s, d) => graft.Queries.stratifiedSplit(s, d).count()),
    "rag_chunks" -> ((s, d) => graft.Queries.ragChunks(s, d).count()),
    "vocab_growth" -> ((s, d) => graft.Queries.vocabGrowth(s, d).count()),
    "winsorize_quality" -> ((s, d) => graft.Queries.winsorizeQuality(s, d).count()),
    // round-5b: vocab-sized iteration (BPE), model-scored corpus
    // (surprisal), and cross-snapshot diff — docs-table ops only (the
    // augmented corpus carries documents + embeddings)
    "bpe_merges" -> ((s, d) => graft.Queries.bpeMerges(s, d).count()),
    "bpe_encode" -> ((s, d) => graft.Queries.bpeEncode(s, d).count()),
    "token_surprisal" -> ((s, d) => graft.Queries.tokenSurprisal(s, d).count()),
    "snapshot_diff" -> ((s, d) => graft.Queries.snapshotDiff(s, d).count()),
    "winnow_overlap" -> ((s, d) => graft.Queries.winnowOverlap(s, d).count()),
    "winnow_fast" -> ((s, d) =>
      Dedup.winnowOverlapPairs(docs(s, d)).count()),
    // round-6: cluster-native winnow — output is per-doc labels (linear),
    // vs winnow_fast's pair list (quadratic in duplicate-cluster size)
    "winnow_clusters" -> ((s, d) =>
      Dedup.winnowClusters(docs(s, d)).count()),
    "curation_funnel" -> ((s, d) => graft.Queries.curationFunnel(s, d).count()),
    // behavioral/events family (per-user windows, keyed aggregations):
    // key cardinality grows 10× in the augmented corpus while per-user
    // stream shapes stay fixed — the partitioned-window stress
    "scd2_history" -> ((s, d) => graft.Queries.scd2History(s, d).count()),
    "conversion_funnel" -> ((s, d) => graft.Queries.conversionFunnel(s, d).count()),
    "cohort_retention" -> ((s, d) => graft.Queries.cohortRetention(s, d).count()),
    "hourly_anomalies" -> ((s, d) => graft.Queries.hourlyAnomalies(s, d).count()),
    // cross-table ingest screen: output bounded by the incoming batch
    "incremental_new" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.incrementalNew(dd.filter(col("doc_id") % 10 =!= 0),
        dd.filter(col("doc_id") % 10 === 0)).count()
    }),
    // round-6 training-pipeline family: row-local scrub, per-shard window
    // cumsums (pack/mix), bounded-fanout suffix screen, and CDC chunking
    // (posexplode + per-doc window + fingerprint-keyed aggs)
    "pii_scrub" -> ((s, d) => graft.Queries.piiScrub(s, d).count()),
    "sequence_pack" -> ((s, d) => graft.Queries.sequencePack(s, d).count()),
    "token_budget_mix" -> ((s, d) =>
      graft.Queries.tokenBudgetMix(s, d).count()),
    "domain_blocklist" -> ((s, d) =>
      graft.Queries.domainBlocklist(s, d).count()),
    "cdc_chunks" -> ((s, d) => graft.ops.Cdc.chunks(docs(s, d)).count()),
    // gram pass + dim²-bounded driver iteration: the corpus cost is the
    // quantized outer-product explode (dim² terms per row, map-side agg)
    "embedding_pca" -> ((s, d) => graft.Queries.embeddingPca(s, d).count()),
    // round-6b: bounded-codebook semantic dedup (within-cell prune), a
    // B-row-broadcast importance scorer, and the row-local rule battery
    "semantic_dedup" -> ((s, d) => {
      val e = emb(s, d)
      val cents = SimSearch.sampledCentroids(e, k = 8)
      Dedup.semanticDedup(e, cents, threshold = 0.99).count()
    }),
    "dsir_weights" -> ((s, d) => graft.Queries.dsirWeights(s, d).count()),
    "gopher_filter" -> ((s, d) => graft.Queries.gopherFilter(s, d).count()),
    // graph census/traversal pair over the lineitem basket graph —
    // measure across sf0.01 → sf0.1 (a natural 10× in edges); the
    // ScaleData-augmented corpus carries documents/embeddings only
    "triangle_census" -> ((s, d) => graft.Queries.triangleCensus(s, d).count()),
    "bfs_levels" -> ((s, d) => graft.Queries.bfsLevelsQ(s, d).count()),
    "kcore" -> ((s, d) => graft.Queries.kCoreQ(s, d).count()),
    // events-stream sequence census + one-pass corpus summary
    "event_transitions" -> ((s, d) =>
      graft.Queries.eventTransitions(s, d).count()),
    "corpus_datasheet" -> ((s, d) =>
      graft.Queries.corpusDatasheet(s, d).count()),
    // robust stats / leakage / divergence / conversion latency
    "mad_outliers" -> ((s, d) => graft.Queries.madOutliers(s, d).count()),
    "cross_source_overlap" -> ((s, d) =>
      graft.Queries.crossSourceOverlap(s, d).count()),
    "source_divergence" -> ((s, d) =>
      graft.Queries.sourceDivergence(s, d).count()),
    "time_to_convert" -> ((s, d) =>
      graft.Queries.timeToConvert(s, d).count()),
    // round-7: the full-corpus pair-native diagnostic vs its
    // constant-size-stratum production twin (q180 vs q186 — the stratum
    // target is fixed, so pair work is bounded at ANY corpus size),
    // deterministic HLL registers (state = 64×|sources| rows), the
    // DF-capped containment join, and the cluster-native size histogram
    "detector_agreement" -> ((s, d) =>
      graft.Queries.detectorAgreement(s, d).count()),
    "detector_agreement_sampled" -> ((s, d) =>
      graft.Queries.detectorAgreementSampled(s, d).count()),
    "hll_distinct" -> ((s, d) => graft.Queries.hllDistinct(s, d).count()),
    "containment_pairs" -> ((s, d) =>
      graft.Queries.containmentPairs(s, d).count()),
    "cluster_size_histogram" -> ((s, d) =>
      graft.Queries.clusterSizeHistogram(s, d).count()),
    "bm25_topk" -> ((s, d) => graft.Queries.bm25TopK(s, d).count()),
    "contrastive_triplets" -> ((s, d) =>
      graft.Queries.contrastiveTriplets(s, d).count()),
    "kmv_overlap_matrix" -> ((s, d) =>
      graft.Queries.kmvOverlapMatrix(s, d).count()),
    "decay_engagement" -> ((s, d) =>
      graft.Queries.decayEngagement(s, d).count()),
    "event_lift_matrix" -> ((s, d) =>
      graft.Queries.eventLiftMatrix(s, d).count()),
    "burstiness_audit" -> ((s, d) =>
      graft.Queries.burstinessAudit(s, d).count()),
    "rrf_fusion" -> ((s, d) => graft.Queries.rrfFusion(s, d).count()),
    "rendezvous_shards" -> ((s, d) =>
      graft.Queries.rendezvousShards(s, d).count()),
    "rank_agreement" -> ((s, d) =>
      graft.Queries.rankAgreement(s, d).count()),
    "rolling_active_users" -> ((s, d) =>
      graft.Queries.rollingActiveUsers(s, d).count()),
    "stream_interval_join" -> ((s, d) =>
      graft.Queries.streamIntervalJoin(s, d).count()),
    "stream_sessions" -> ((s, d) =>
      graft.Queries.streamSessions(s, d).count()),
    "label_separability" -> ((s, d) =>
      graft.Queries.labelSeparability(s, d).count()),
    "ndcg_eval" -> ((s, d) => graft.Queries.ndcgEval(s, d).count()),
    "modularity_audit" -> ((s, d) =>
      graft.Queries.modularityAudit(s, d).count()),
    "markov_accuracy" -> ((s, d) =>
      graft.Queries.markovAccuracy(s, d).count()),
    "stream_replay_sink" -> ((s, d) =>
      graft.Queries.streamReplaySink(s, d).count()),
    "shard_manifest" -> ((s, d) =>
      graft.Queries.shardManifest(s, d).count()),
    "perplexity_buckets" -> ((s, d) =>
      graft.Queries.perplexityBuckets(s, d).count()),
    "langid_confusion" -> ((s, d) =>
      graft.Queries.langidConfusion(s, d).count()),
    "memorization_coverage" -> ((s, d) =>
      graft.Queries.memorizationCoverage(s, d).count()),
    "js_divergence_matrix" -> ((s, d) =>
      graft.Queries.jsDivergenceMatrix(s, d).count()),
    "oov_rate" -> ((s, d) => graft.Queries.oovRate(s, d).count()),
    "ttr_budget" -> ((s, d) => graft.Queries.ttrBudget(s, d).count()),
    "bootstrap_ci" -> ((s, d) => graft.Queries.bootstrapCi(s, d).count()),
    "group_split" -> ((s, d) => graft.Queries.groupSplit(s, d).count()),
    "position_attribution" -> ((s, d) =>
      graft.Queries.positionAttribution(s, d).count()),
    "dedup_savings" -> ((s, d) => graft.Queries.dedupSavings(s, d).count()),
    "grouped_ols" -> ((s, d) => graft.Queries.groupedOls(s, d).count()),
    "sorted_neighborhood" -> ((s, d) =>
      graft.Queries.sortedNeighborhood(s, d).count()),
    "pareto_coverage" -> ((s, d) =>
      graft.Queries.paretoCoverage(s, d).count()),
    "partition_balance" -> ((s, d) =>
      graft.Queries.partitionBalance(s, d).count()),
    "modality_coverage" -> ((s, d) =>
      graft.Queries.modalityCoverage(s, d).count()),
    "feature_assembly" -> ((s, d) =>
      graft.Queries.featureAssembly(s, d).count()),
    "behavior_entropy" -> ((s, d) =>
      graft.Queries.behaviorEntropy(s, d).count()),
    "srp_calibration" -> ((s, d) =>
      graft.Queries.srpCalibration(s, d).count()),
    "seasonality_profile" -> ((s, d) =>
      graft.Queries.seasonalityProfile(s, d).count()),
    "source_scorecard" -> ((s, d) =>
      graft.Queries.sourceScorecard(s, d).count()),
    "lateness_audit" -> ((s, d) =>
      graft.Queries.latenessAudit(s, d).count()),
    "fold_balance" -> ((s, d) => graft.Queries.foldBalance(s, d).count()),
    "cluster_keeper" -> ((s, d) =>
      graft.Queries.clusterKeeper(s, d).count()),
    "join_card_estimate" -> ((s, d) =>
      graft.Queries.joinCardEstimate(s, d).count()),
    "join_ivm" -> ((s, d) => graft.Queries.joinIvm(s, d).count()),
    "threshold_sweep" -> ((s, d) =>
      graft.Queries.thresholdSweep(s, d).count()),
    "ltv_curves" -> ((s, d) => graft.Queries.ltvCurves(s, d).count()),
    "hill_tail" -> ((s, d) => graft.Queries.hillTail(s, d).count()),
    "type_drift" -> ((s, d) => graft.Queries.typeDrift(s, d).count()),
    // round-8: statistical audits (score-domain aggs), two-phase-rank
    // consumers, native session windows, and the curation waterfall —
    // docs-table ops run on the augmented corpus; events-table ops
    // measure across sf0.01 → sf0.1 (the natural 10× in events)
    "calibration_audit" -> ((s, d) =>
      graft.Queries.calibrationAudit(s, d).count()),
    "mann_whitney" -> ((s, d) => graft.Queries.mannWhitney(s, d).count()),
    "markov_transitions" -> ((s, d) =>
      graft.Queries.markovTransitions(s, d).count()),
    "km_retention" -> ((s, d) => graft.Queries.kmRetention(s, d).count()),
    "importance_reweight" -> ((s, d) =>
      graft.Queries.importanceReweight(s, d).count()),
    "lsh_calibration" -> ((s, d) =>
      graft.Queries.lshCalibration(s, d).count()),
    "centroid_drift" -> ((s, d) =>
      graft.Queries.centroidDrift(s, d).count()),
    "unseen_species" -> ((s, d) =>
      graft.Queries.unseenSpecies(s, d).count()),
    "heaps_fit" -> ((s, d) => graft.Queries.heapsFit(s, d).count()),
    "cusum_changepoint" -> ((s, d) =>
      graft.Queries.cusumChangepoint(s, d).count()),
    "roc_pr" -> ((s, d) => graft.Queries.rocPr(s, d).count()),
    "watermark_audit" -> ((s, d) =>
      graft.Queries.watermarkAudit(s, d).count()),
    "knn_accuracy" -> ((s, d) => graft.Queries.knnAccuracy(s, d).count()),
    "session_window_batch" -> ((s, d) =>
      graft.Queries.sessionWindowBatch(s, d).count()),
    "stream_session_window" -> ((s, d) =>
      graft.Queries.streamSessionWindow(s, d).count()),
    "curation_waterfall" -> ((s, d) =>
      graft.Queries.curationWaterfall(s, d).count()),
    "quantile_norm" -> ((s, d) => graft.Queries.quantileNorm(s, d).count()),
    "rfm_segments" -> ((s, d) => graft.Queries.rfmSegments(s, d).count()),
    "token_keyness" -> ((s, d) => graft.Queries.tokenKeyness(s, d).count()),
    "layout_pruning" -> ((s, d) => graft.Queries.layoutPruning(s, d).count()))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleBench <dir1> [dir2 ...]")
    val spark = graft.Session.local("graft-scalebench")
    // optional comma-separated op filter (SPARK_GRAFT_SCALE_OPS) for
    // measuring one family without paying for the whole suite
    val selected = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(',').map(_.trim).toSet)
      .map(want => ops.filter { case (n, _) => want(n) })
      .getOrElse(ops)
    // warm-up
    docs(spark, args.head).count()
    args.foreach { dir =>
      val nDocs = docs(spark, dir).count()
      val cells = selected.map { case (name, op) =>
        val t0 = System.nanoTime()
        val n = op(spark, dir)
        val sec = (System.nanoTime() - t0) / 1e9
        Dedup.releaseCaches()
        f"""\"$name\":{\"sec\":$sec%.2f,\"rows\":$n}"""
      }
      println(s"""{"dir":"$dir","docs":$nDocs,${cells.mkString(",")}}""")
    }
    spark.stop()
  }
}
