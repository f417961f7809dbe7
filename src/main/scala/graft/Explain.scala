package graft

/** Plan-audit utility: prints the formatted physical plan of the named
  * queries (default: a representative set) against SPARK_GRAFT_SF_DIR.
  * Used to keep the scale checklist honest: pushed filters reach the scan,
  * dims broadcast, aggregates stay partial/final, sorts only where the
  * query semantics demand order.
  *
  * Note (r15 ADVICE): builders that materialize intermediates eagerly
  * (the localCheckpoint / Fixtures.derived plan-truncation class, and
  * the ≤G-row LocalRelation collects) EXECUTE those stages at DataFrame
  * construction time — so explaining such an entry runs real Spark jobs
  * and its printed plan shows `Scan ExistingRDD` where the truncated
  * derivation ran. Expected and acceptable for this audit tool (and for
  * ScaleShapeSpec's plan pins); per-action timing that wanted to EXCLUDE
  * builder time would undercount exactly these entries — the bench times
  * builders inside the rep, so it does not.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Mains.localSession(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q01_netto_buy_topk", "q07_buy_turnover_interval", "q19_imoex_turnover_by_time_b",
      "a16_candles_batch", "dedup_trades", "llm_minhash_lsh", "llm_embed_topk",
      // round-5 representatives: verbatim dashboard SQL, as-of custom
      // exec, histogram quantiles, zero-shuffle mixing, z-order kernel
      "ch_q05_dashboard_sql", "qx_asof_custom", "llm_length_quantiles",
      "llm_mix_sample", "layout_zorder_key", "dedup_trades_lastby",
      // round-6 representatives: fused capped-collect posting index,
      // oracled exact-machine replay, frozen-model LM scoring
      "llm_ngram_jaccard", "a01_candles_replay", "llm_lm_score_holdout",
      // round-7 representatives: capped-bucket LSH candidates,
      // adaptive-width embedding near-dup, capped frozen-index
      // incremental near-dup, capped-cluster exact dedup
      "llm_embed_neardup", "llm_incremental_neardup", "llm_semdedup_capped",
      // late round-7 representatives: PQ codes + broadcast ADC table,
      // span-index hash agg + join-back, classifier weight/score joins
      "llm_ann_pq", "llm_span_dedup", "llm_lang_classify",
      // sixth wave: bloom word-table probe join, BM25 postings join,
      // host-cap window, CDC chunk stats join
      "llm_bloom_dedup", "llm_bm25_topk", "llm_host_cap", "llm_cdc_chunk",
      "llm_knn_graph",
      // seventh wave: per-shard rank (no global sort), cluster argmax,
      // tercile broadcast join, SQ scale aggregate + ADC scan
      "llm_shuffle_shard", "llm_cluster_best", "llm_ccnet_bucket",
      "llm_sq_recall", "llm_bpe_train", "llm_bpe_apply", "llm_bpe_fertility",
      "llm_rrf_fusion", "llm_pack_spans",
      // round-8 wave: windowed paragraph stats, map-side regex chain,
      // lm-plan folded to domain rows, prefix-truncation scans, quota
      // window, hash-only snapshot join, adaptive-width banded popcount,
      // and the map-side CDC fold (supersedes the word-stream windows)
      "llm_paragraph_dedup", "llm_html_extract", "llm_doremi_weight",
      "llm_mrl_recall", "llm_token_budget", "llm_snapshot_diff",
      "llm_simhash_neardup", "llm_url_dedup", "llm_ann_ledger",
      // round-9 wave: KN's shuffle-hashed scoring join + type-bound
      // model tables, pagerank's cached edge set + broadcast
      // iterations, neyman's single per-source window + broadcast
      // allocation, outliers' assignment agg + broadcast cell stats,
      // epoch manifest's bounded explode, the card's single hash agg
      "llm_kn_lm_score", "llm_pagerank_hosts", "llm_neyman_sample",
      "llm_embed_outliers", "llm_epoch_expand", "llm_dataset_card",
      // analytics wave: funnel's single-shuffle sorted-array DP fold,
      // retention's co-partitioned cohort join, sequence-match's one
      // sort shared by both running-max windows, CMS's broadcast
      // counter-table probe join
      "evt_funnel", "evt_retention", "evt_sequence_match", "llm_cms_sketch",
      // incremental-aggregation wave: state-merge's two metadata-scale
      // aggregates around a parts-table scan, summing rollup's
      // partial+merge pair, the text ingest edges' schema-pinned scans
      "qx_topk_state_merge", "rollup_summing_merge",
      "a22_csv_source_roundtrip", "a23_json_source_roundtrip",
      // wave 5: partitioned JDBC source scan, composed KMV state merge
      "a24_jdbc_source_roundtrip", "llm_uniq_state_merge",
      // wave 6 relational classes: declared-values pivot (one agg, no
      // distinct-scan), rollup's single Expand+agg, both moving frames
      // on ONE Window/Sort
      "qx_pivot_turnover", "qx_rollup_turnover", "qx_moving_turnover",
      // wave 7: time-based RANGE frame (one Window/Sort), codegen'd
      // schema-full from_json projection (map-side, no UDF)
      "qx_range_frame_turnover", "llm_json_metadata",
      // TTL retention: the read side scans only surviving partitions
      "layout_ttl_retention",
      // collapsing family: both FINAL forms must be all-hash (no
      // SortAggregate, no Window); the sign-weighted aggregate is one
      // partial-aggregated scan
      "dedup_trades_collapsing", "dedup_trades_vcollapsing",
      "qx_collapsing_turnover",
      // bucketed co-located join (join subtree must carry no Exchange)
      // and deterministic hash sampling (map-side predicate + partial agg)
      "layout_bucketed_join", "qx_sample_turnover",
      // t-digest ledger: ObjectHashAggregate sketch + cum-hist exact twin;
      // the state/merge form reads the persisted parts table instead
      "qx_quantile_tdigest", "qx_tdigest_state_merge",
      // relational surface: LIMIT BY (one window), WITH FILL (grid
      // generate + left join, bucket-bound), semi/anti broadcast joins
      "qx_limit_by", "qx_with_fill_turnover", "qx_semi_anti_codes",
      // DPP: the fact scan must carry a dynamicpruningexpression
      "layout_dpp_prune",
      // LOCF fill: one extra window over the already bucket-sized grid
      "qx_with_fill_locf",
      // set ops: DISTINCT aggregate + anti/semi joins on bucket inputs
      "qx_set_ops_minutes",
      // mutations: staged selective rewrite, read side scans the result
      "layout_mutation_delete", "layout_mutation_update",
      // OPTIMIZE: fragment + compact; the read scans the compacted files
      "layout_optimize_compact",
      // drift: two partial-agg counts, bucket-grid join, one final agg
      "llm_corpus_drift")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
