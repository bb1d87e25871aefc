"""Shuffle-budget audit: every headline query has a declared ceiling on
the number of hash-partition exchanges in its physical plan. A shuffle
that sneaks in during a refactor is the single most expensive silent
regression at 100 TB (each exchange re-materializes the whole relation
over the network), so the budget is pinned here, not discovered in the
next bench run.

Budgets are ceilings, not exact counts — AQE may merge/elide exchanges
at runtime; plan shape is stable across scale factors so this runs at
sf0.001. Only `Exchange hashpartitioning` counts: broadcasts and
single-partition exchanges are not corpus-sized."""

import pytest

from ingest_fast_spark.queries import QUERIES

# name -> max allowed hash-partition exchanges in the static plan.
SHUFFLE_BUDGET = {
    # reference pipeline: one agg shuffle + one merge shuffle
    "fast_aggregate_docs": 2,
    "fast_parse_triples": 0,  # map-only parse
    # the (branch, id) doc aggregate + the cross-file _id merge; the
    # sameAs enrichment is a broadcast join before the aggregate
    "fast_table_end_to_end": 2,
    # relational core
    "q1_pricing_summary": 1,  # the group-by; dims broadcast
    "q5_region_revenue": 3,
    "filter_project": 0,  # scan+filter+project, no shuffle
    "topk_per_group": 1,  # one window partition
    "window_running_agg": 1,
    "sessionize": 1,
    "join_asof": 1,  # union+window single shuffle design
    # text / curation: map-only or broadcast-probe designs
    "text_token_stats": 0,
    "text_quality_score": 0,
    "quality_model_score": 0,
    # (pid, source) slice window + offset join-back — the distributed
    # prefix sum that replaced the one-reducer-per-source running window
    "pack_training_sequences": 2,
    "shard_training_data": 1,
    "curation_domain_cap": 2,  # group limit + totals agg
    # dedup family: shingle agg + pair join + sizes
    "dedup_exact": 1,
    "dedup_paragraphs": 2,  # paragraph window + doc_id reassembly (by design)
    "text_heavy_hitters": 2,  # candidate recount + total (1-row)
    "bpe_encode_lengths": 12,  # word-freq agg + 8 checkpointed rounds
    # pipeline-evaluation suite (queries/pipelineq.py)
    "quality_quarantine": 0,  # the gate is map-only by contract
    "quality_gopher_rules": 0,  # published-threshold gate, map-only too
    # shingle-pair blocking (2, shared with cluster_canonical's finder) +
    # cluster-size count riding the component key
    "dedup_soft_weights": 3,
    # same blocking + the max_by winner aggregate + doc_id join-back
    "dedup_cluster_keep_best": 4,
    # MinHash-fed scale twins: the signature frame is localCheckpointed
    # (its one shingle-agg exchange is pinned by the operator tests), so
    # the static plan shows the post-checkpoint shape — banded candidate
    # join + verify joins + the layer's own exchanges. Budgets must not
    # exceed the baseline-fed variants: the whole point of the scale path
    # is that swapping the pair source adds no exchanges.
    "dedup_soft_weights_fast": 3,
    "dedup_cluster_keep_best_fast": 4,
    "split_cluster_safe_fast": 1,
    "dedup_soft_weights_minhash": 3,
    "dedup_cluster_keep_best_minhash": 4,
    "split_cluster_safe_minhash": 1,
    # word-freq agg feeding the encode; the per-source rollup and the
    # hint-free word join ride AQE-planned sides at this scale
    "bpe_fertility_by_source": 1,
    # one partial-aggregable sketch pass + the r5 rank-bound check's 5-key
    # aggregate (map-side partials over the broadcast-fanned scan; the
    # exchange ships <= 5 rows per map task, bounded by len(_SKETCH_QS))
    "sketch_quantile_report": 1,
    "text_char_entropy": 2,  # (doc,char) count + per-doc rollup
    "text_ngram_novelty": 2,  # shingle df + per-doc rollup (join rides df key)
    "events_anomaly_zscore": 1,  # the per-user window, nothing else
    "langid_confusion": 2,  # cell counts + row-normalizing window
    # digest window + group-limited quota window + doc_id join-back (the
    # extra exchange buys a map-side WindowGroupLimit instead of one
    # reducer fully sorting a mega-source's survivors)
    "curation_decision_ledger": 3,
    "table_skew_report": 2,  # per-key counts + per-column rollup
    "search_ndcg_eval": 3,  # candidate rank window + metric agg + totals
    "doc_bigram_logppl": 4,  # bigram counts, prefix counts, join, doc rollup
    "events_drift_psi": 4,  # ref cuts, bin counts, totals, psi rollup
    "curation_dsir_weights": 5,  # vocab agg + buckets + doc rollup (maps broadcast)
    # two shingle sides + overlap + sizes + leak-join + report; the eval-size
    # and leaked frames are deliberately NOT broadcast (both grow with the
    # corpus — unbounded driver memory at 100 TB), so their joins show as
    # static hash exchanges; AQE demotes them to broadcast when small.
    "split_leakage_report": 6,
    "embedding_outlier_report": 5,  # centroids, distances, label moments
    # distributed-ranking family (operators/rank.py): the top-k/NTILE is a
    # TakeOrderedAndProject or bounded-offset join — never a global sort.
    "search_bm25_topk": 4,  # tf agg, df agg, length join, doc rollup
    "search_hybrid_rrf": 5,  # bm25 legs + fused join (vec leg broadcasts)
    "sessions_max_concurrency": 6,  # sessionize window+agg, bucket window+agg
    "curation_length_deciles": 3,  # range part., pid window, offset join
    "quality_c4_rules": 0,  # C4 gate is map-only like the Gopher bundle
    # token count agg + per-source rank window + per-source OLS sums
    "token_zipf_slope": 3,
    # iterative queries below are localCheckpointed per round, so the
    # static plan shows only the FINAL fragment (the per-round shapes are
    # pinned by the operators' own tests): LPA ends in one community-size
    # window; kmeans ends map-only on the checkpointed centroid table.
    "graph_label_propagation": 1,
    "embedding_kmeans": 0,
    # html synthesis + extraction is one regexp Column chain — scan speed
    "text_html_extract": 0,
    "text_fix_mojibake": 0,  # literal-replace chain, map-only
    # synthesize + decode are chained mapInPandas passes (map-only); the
    # ahash variant pays exactly one key exchange for the cluster window
    "multimodal_bmp_roundtrip": 0,
    "multimodal_png_palette_roundtrip": 0,
    "multimodal_scene_cuts": 0,
    "multimodal_audio_roundtrip": 0,
    "multimodal_dedup_ahash": 1,
    # vocab count agg + vocab rank + encode join + decode join + doc rollup
    "encode_decode_roundtrip": 6,
    # IVF×ADC fusion: coarse max_by assignment agg + PQ (vec,sub) argmin
    # window + codes/assignment join + the ADC (query,vec) rollup — probe
    # set, codebook and distance tables all broadcast (never corpus-keyed)
    "embed_topk_ivf_adc": 6,
    # residual IVFPQ: post-checkpoint shape (residual frame checkpointed
    # once for codebook + encode): codebook anti-join agg, per-(vec,sub)
    # min_by encode, the ADC (query,vec) rollup — tables broadcast
    "embed_topk_ivf_pq_residual": 6,
    # winnowing: the selection is computed in-row (map-only array HOFs —
    # the gram stream never shuffles); ONE repartition("fp") serves the
    # (doc,fp) distinct, the df-guard window AND the bounded bucket
    # collect (single lineage, no self-join); the pair rollup is the
    # second exchange
    "dedup_winnowing": 2,
    "dedup_winnowing_fast": 2,  # same shape, xxhash64 gram hash
    # CMS: post-checkpoint shape — the (row_i,bucket) cell agg (<=1024
    # cells leave each map task) + the exact-count agg the report needs;
    # cells/top/total all broadcast into the estimate join
    "sketch_cms_report": 2,
    # KS: the (type,value) grid aggregate + the per-type cumsum window
    # (the window rides the grid, not the event stream)
    "events_drift_ks": 2,
    # eval set broadcast (benchmark-sized by construction); the only
    # exchange is the per-vector argmax aggregate
    "decontaminate_semantic": 1,
    # HLL: post-checkpoint shape — one exchange for the exact-count leg;
    # the register build's groupBy(register) partial-aggregates to <= m
    # rows per map task and lands in the checkpoint, estimate/exact/spine
    # all broadcast into the 256-row output
    "sketch_hll_report": 1,
    # pHash: synthesis+decode+hash are chained map-only mapInPandas; the
    # one exchange is the window partition on the 64-bit hash
    "multimodal_dedup_phash": 1,
    # KMV: post-checkpoint shape — the exact union/intersection leg's two
    # distinct aggregates (the report's reason to exist); the sketches
    # themselves reduce <= k rows/task into checkpoints
    "sketch_kmv_report": 2,
    # DBSCAN: degree agg, core anti/semi joins, border min-cluster agg —
    # all on the sparse eps-edge list (pairs checkpointed once); corpus
    # vectors never shuffle
    "embedding_dbscan": 6,
    # Kneser-Ney: one bigram-type aggregate (checkpointed; every KN count
    # derives from it, no count_distinct expansion), the scoring join's
    # bigram shuffle, the doc rollup
    "doc_kn_logppl": 3,
    # JL projection: map-only (the 32x64 matrix folds into the plan); the
    # summary is a single-partition aggregate, not a hash exchange
    "embedding_jl_distortion": 0,
    # substring scrub: post-checkpoint shape — gram pair join + island
    # window/agg + interval merge window + per-doc interval collect; the
    # windows ride the sparse span list, the text rebuild is map-only
    "dedup_substring_scrub": 4,
    # k-anonymity: the QI-class hash aggregate (map-side partial) + the
    # summary re-aggregate; summary broadcasts back into the class rows
    "privacy_k_anonymity": 2,
    # l-diversity: the count_distinct expand adds one exchange pair over
    # the k-anonymity shape (5-value sensitive column — cheap expand)
    "privacy_l_diversity": 4,
    # windowed HLL (batch legs of the finished stream table): per-window
    # sufficient-statistics agg + the exact per-window distinct leg +
    # the window join
    "stream_hll_windowed": 3,
    # --- round-7 third wave ---
    # BFS/HITS/PPR are localCheckpointed per round like LPA/kmeans: the
    # static plan shows only the final fragment (BFS: union of visited
    # frames; PPR: the checkpointed rank table map-only; HITS: the final
    # auth⋈hub node-keyed join)
    "graph_bfs_hops": 1,
    "graph_hits": 2,
    "graph_personalized_pagerank": 1,
    # friends-of-friends on the checkpointed adjacency: degree agg, hub
    # semi-join, wdeg join, the shared-neighbor self-join, pair agg, and
    # the two Jaccard degree join-backs — all on node/pair keys
    "graph_common_neighbors": 7,
    # ONE range exchange is the whole design (pinned behind the
    # checkpoint); visible: the offsets broadcast join + pid window
    "assign_global_ids": 1,
    "layout_zorder_report": 1,  # the 256-bucket partial+final agg
    "events_ewma": 1,  # the per-user window; all 8 lags share it
    # daily cents agg + the day-ordered windows (MA + seasonal share the
    # per-type partitioning)
    "timeseries_seasonal_decompose": 2,
    "events_cusum_changepoint": 2,  # daily agg + ordered cusum windows
    # the blocked self-join broadcasts at plan time (block tables are
    # small); at scale AQE plans it as a (nation, band)-keyed shuffle —
    # allow that without a budget bust
    "record_linkage_fs": 2,
    "privacy_dp_histogram": 1,  # the (source, lang) count; noise is map-only
    # tf agg, per-(doc,seed) min_by agg, hot-bucket window, the (seed,
    # token) pair self-join sides + pair agg, + the token-dim hash-once
    # leg (distinct + join-back; r9-opt — trades 2 narrow exchanges for
    # 16 md5 chains per (doc,token) occurrence, 5.01->3.65 s at sf0.1;
    # AQE broadcasts the dim side while it fits)
    "dedup_weighted_minhash": 9,
    # trigram-collapse (r9-opt): top-phrase agg on the checkpointed
    # trigram frame + the broadcast-filtered (phrase, doc) count — the
    # full-postings positional joins are gone
    "search_phrase_positional": 2,
    # touch⋈purchase user join, the per-purchase rank windows, the
    # credited union's channel agg, the direct-leg anti join
    "attribution_credit": 4,
    "ivm_incremental_agg": 2,  # base agg + the delta re-aggregate
    # three delta legs + base view + final merge; at this SF the leg
    # joins broadcast their delta sides, leaving the view/merge aggs
    "ivm_incremental_join": 4,
    # only the cell aggregate is corpus-keyed; the other exchanges all
    # ride the |classes| x |segments| grid (a few hundred rows) and the
    # 5-row global distribution
    "privacy_t_closeness": 10,
    "multimodal_pdf_text": 0,  # two chained map-only mapInPandas passes
    "multimodal_archive_extract": 0,  # synth + unpack, both map-only
    "text_detect_encoding": 0,  # pure-codegen charset sniff, scan speed
    # per-source token-count agg; the rest rides |sources| rows
    "curation_mixture_weights": 2,
    # the user-keyed median/MAD aggregates + joins share one partitioning
    "events_anomaly_mad": 3,
    # batch legs of the finished stream table: exact (window,user) agg,
    # the per-window top-3 rank window, the probe⋈cells join
    "stream_cms_windowed": 3,
    # replicate totals agg + the order-statistic collect + point-estimate
    # join (the ×32 explode is map-only)
    "agg_bootstrap_ci": 3,
    "agg_bootstrap_ci_fast": 3,  # same shape, xxhash64 uniform source
    # same shape as the portable twin (the hash family is the only change)
    "dedup_weighted_minhash_fast": 7,
    # adjacency distinct, degree agg, wedge self-join sides, closing
    # equi-join, per-node triangle agg — all node/pair keys
    "graph_clustering_coefficient": 6,
    "sample_reservoir_per_group": 1,  # the per-source rank window
    # round-9 ingest/normalization additions: all map-only by design
    "multimodal_warc_extract": 0,
    "web_url_canonicalize": 0,
    "text_unicode_normalize": 0,
    "multimodal_png_advanced_roundtrip": 0,
    # src-side rank window + agg, tgt-side rank window + agg, join back
    # (the cross-score is a checkpointed broadcast GEMM, no exchange)
    "bitext_mining_margin": 5,
    # the SymSpell variant equi-join; both attribute joins broadcast
    "linkage_fellegi_sunter": 1,
    # line-df count-distinct agg + the join-back's probe-side exchange +
    # doc_id reassembly + final left join (synthesis is map-only)
    "text_boilerplate_scrub": 4,
    # global token-count agg, (source, idx) count agg + its source
    # distinct, the dense-grid join legs, and the applyInPandas group
    # shuffle; the V-row support and V×V kernel ride broadcasts
    "curation_sinkhorn_ot": 6,
    # verification legs of the finished stream table: last-emission
    # window, (type,user) truth agg + per-type totals, the bound-check
    # join + rollup, and the frequent-item anti-join legs
    "stream_topk_mg": 7,
    # daily count agg + the per-type applyInPandas group shuffle; the
    # sequential fit rides the bounded daily series
    "events_holt_winters": 2,
    # returned frame is the 4-row local weights relation; the training
    # passes are map-side-combinable aggs over the checkpointed features
    # (run before the plan is built — nothing shuffles corpus-sized data)
    "quality_train_logreg": 0,
    "multimodal_tiff_roundtrip": 0,  # synth + decode, both map-only
    # round-9 third wave
    # post-checkpoint signature frame: banded candidate join only (the
    # shingle-agg exchange is inside the checkpointed frame, pinned by
    # the operator tests — same convention as the *_fast twins above)
    "dedup_bbit_minhash": 1,
    "web_url_filter": 0,         # blocklist rides a broadcast
    "web_robots_rules": 0,       # parse + precedence all in-row
    "multimodal_exif": 0,        # synth + APP1 walk, map-only
    # sufficient-statistics collect happens before the 16-row result
    # relation is built — nothing corpus-sized in the returned plan
    "preference_bradley_terry": 0,
    "pack_span_corruption": 0,   # hash-mask HOFs, map-only
    # pool pair join + the two cogroup legs feeding the greedy
    "search_mmr_rerank": 3,
    "multimodal_audio_filterbank": 0,  # synth + DFT, map-only
    "quality_compression_invariants": 0,  # zlib per row, map-only
    # GEMM legs: local-topk candidate windows + overlap join + agg
    "embed_matryoshka_recall": 2,
    "multimodal_motion_energy": 0,  # synth + SAD walk, map-only
    "text_code_detect": 0,  # length-diff + regexp features, map-only
    # one combinable groupBy per candidate column; the rank is 4 rows
    "layout_partition_advisor": 4,
    # ONE undirected-edge distinct (degrees ride an explode of its
    # endpoints, r9-opt) + degree agg + the two endpoint joins + the
    # single-row sum; deg is node-cardinality so it is NOT forced
    # broadcast (unbounded at crawl scale — AQE demotes when small)
    "graph_assortativity": 5,
    "stream_percentile_windowed": 0,  # finished memory-sink table
    "curation_epoch_schedule": 2,  # source token agg + 1-row totals
    "multimodal_resize_attest": 0,  # synth+resize+unpack, map-only
    "multimodal_frame_sample": 0,   # synth+sample+unpack, map-only
}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_shuffle_budget(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("Exchange hashpartitioning")
    assert n <= SHUFFLE_BUDGET[name], (
        f"{name}: {n} hash exchanges > budget {SHUFFLE_BUDGET[name]}\n{plan}"
    )
