"""Physical-plan audits: the plan, not just the result, is the product.

Each assertion pins a scale property that must survive refactors:
filters reach the parquet scan, unused columns are pruned, dimension
joins broadcast, aggregates are map-side partial, the hot path stays in
whole-stage codegen, and nothing silently degrades to a cartesian
product. Plans are shape-stable across scale factors, so these run at
sf0.001.
"""

from pyspark.sql import functions as F

from ingest_fast_spark.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_project")
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "l_returnflag" in pushed and "l_quantity" in pushed, pushed


def test_unused_columns_pruned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_project")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for unused in ("l_tax", "l_shipdate", "l_suppkey", "l_linestatus"):
        assert unused not in read_schema, f"{unused} not pruned: {read_schema}"


def test_dimension_joins_broadcast(spark, sf_dir):
    # Dim tables (region/nation/customer) must broadcast — a shuffled join
    # of a 5-row dim against the fact table would shuffle the fact side.
    for name in ("q5_region_revenue", "join_inner_broadcast", "q18_large_orders"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan}"


def test_aggregate_is_partial(spark, sf_dir):
    # Map-side partial + final HashAggregate pair: the shuffle carries one
    # row per (partition × group), not one per input row.
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2, plan


def test_hot_path_in_codegen(spark, sf_dir):
    # AQE wraps the plan in AdaptiveSparkPlan whose codegen spans only
    # materialize per-stage at runtime; disable it to see the static spans.
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    # Codegen spans render as "*(N)" stage markers in the plan string; the
    # scan→filter→project→partial-agg pipeline must be inside one.
    assert "*(1) HashAggregate" in plan and "*(1) Project" in plan, plan


def test_fast_parse_methods_fit_the_jit_limit(spark, sf_dir):
    # HotSpot does not JIT-compile a method over 8000 bytes of bytecode
    # (unless the JVM runs with -XX:-DontCompileHugeMethods), so a
    # whole-stage codegen method that big runs interpreted. The FAST
    # parse reaches ~23 KB if its literal/normalize expressions are
    # inlined into every CASE branch or its line regex into pushed-down
    # filters.
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    try:
        for name in ("fast_parse_triples", "fast_aggregate_docs"):
            plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan()
            subtrees = debug.codegenStringSeq(plan)
            assert subtrees.size() > 0, name
            for i in range(subtrees.size()):
                size = subtrees.apply(i)._3().maxMethodCodeSize()
                assert size < 8000, f"{name}: {size}-byte generated method"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_cross_join_is_broadcast_nlj(spark, sf_dir):
    # The explicit dim×dim cartesian must be a broadcast NLJ, never a
    # shuffled CartesianProduct.
    plan = plan_of(spark, sf_dir, "join_cross")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_no_accidental_cartesian_anywhere(spark, sf_dir):
    # Sweep every batch query: a CartesianProduct outside the one
    # intentional cross join means a join lost its equi-condition.
    for name, fn in QUERIES.items():
        if name.startswith("stream_") or name == "join_cross":
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_semi_anti_stay_semi_anti(spark, sf_dir):
    for name, kind in (("join_semi", "LeftSemi"), ("join_anti", "LeftAnti")):
        plan = plan_of(spark, sf_dir, name)
        assert kind in plan, f"{name}: expected {kind}\n{plan}"


def test_topk_is_windowed_not_global_sort(spark, sf_dir):
    # Per-group top-k must rank within partitions (Window + filter), not
    # globally sort the whole table and post-filter.
    df = QUERIES["topk_per_group"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RunningWindowFunction" in plan or "Window" in plan, plan
    # The rank<=k predicate must also push into a map-side partial
    # WindowGroupLimit: each input partition keeps only its local top-k
    # BEFORE the shuffle, so the exchange carries O(groups*k), not the
    # whole table — the difference between shuffling 100 TB and ~nothing.
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_domain_cap_group_limits_and_broadcasts(spark, sf_dir):
    # The per-domain quota must keep the partial WindowGroupLimit (the cap
    # filter prunes before the shuffle) AND fetch per-domain totals via a
    # broadcast aggregate — a count() window frame would have forced every
    # row of a mega-domain through the shuffle.
    plan = plan_of(spark, sf_dir, "curation_domain_cap")
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_decontamination_bench_side_broadcasts(spark, sf_dir):
    # The benchmark shingle set must broadcast: the corpus side of the
    # probe is the 100 TB side and may never shuffle for this join.
    plan = plan_of(spark, sf_dir, "decontaminate_benchmark")
    assert "BroadcastHashJoin" in plan, plan


def test_q17_avg_subquery_broadcasts(spark, sf_dir):
    # The decorrelated per-part average is a tiny aggregate — it must
    # broadcast back onto the lineitem probe, not shuffle it.
    plan = plan_of(spark, sf_dir, "q17_small_quantity")
    assert "BroadcastHashJoin" in plan, plan


def test_pack_is_single_window_pass(spark, sf_dir):
    # Distributed sequential-fill (operators/pack.py): the corpus-side
    # running sum happens inside the (partition, source) slices BEFORE the
    # checkpoint, so the visible plan's exchanges all sit on the bounded
    # offsets leg (one row per slice: partial/final agg + the per-source
    # offset window) and the corpus re-enters only as a checkpoint scan
    # feeding a broadcast join — no corpus-sized exchange, no per-source
    # straggler sort.
    plan = plan_of(spark, sf_dir, "pack_training_sequences")
    assert plan.count("Window") >= 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # offsets leg only
    assert "BroadcastHashJoin" in plan, plan  # bounded offsets broadcast back
    assert "Scan ExistingRDD" in plan, plan  # corpus from the pinned checkpoint


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter join pruning: a selective dimension-side
    filter injects a bloom_filter_might_contain predicate into the fact
    side BEFORE the shuffle — at 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~matching rows.
    Size thresholds are lowered only because the testdata is tiny; the
    rewrite itself is what's pinned."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        from ingest_fast_spark.catalog import load_table

        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "might_contain" in plan or "bloom" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_quality_model_is_single_scan_no_shuffle(spark, sf_dir):
    """The logistic quality model is feature-extraction + linear algebra
    per row: it must stay one codegen'd scan — any Exchange means a
    regression re-introduced a shuffle into a map-only op."""
    plan = plan_of(spark, sf_dir, "quality_model_score")
    assert "Exchange" not in plan, plan


def test_unigram_logppl_broadcasts_vocab(spark, sf_dir):
    """The corpus-unigram probe must broadcast the vocabulary-sized count
    table; shuffling the exploded token stream against it would move the
    whole corpus."""
    plan = plan_of(spark, sf_dir, "doc_unigram_logppl")
    assert "BroadcastHashJoin" in plan, plan


def test_encode_docs_broadcasts_vocab(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "encode_docs_to_ids")
    assert "BroadcastHashJoin" in plan, plan


def test_transition_matrix_broadcasts_totals(spark, sf_dir):
    """Per-from-type totals (a handful of rows) broadcast back onto the
    transition counts for normalization."""
    plan = plan_of(spark, sf_dir, "event_transition_matrix")
    assert "BroadcastHashJoin" in plan, plan


def test_normalize_docs_no_udf_in_plan(spark, sf_dir):
    """F4+F5 normalization is pure JVM expressions: no Python eval node
    (BatchEvalPython/ArrowEvalPython) may appear in the plan."""
    plan = plan_of(spark, sf_dir, "text_normalize_docs")
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_sentence_dedup_is_map_only(spark, sf_dir):
    """Intra-doc sentence dedup is higher-order array expressions over one
    scan: no shuffle, no Python eval — the whole point vs the corpus-wide
    paragraph dedup."""
    plan = plan_of(spark, sf_dir, "text_dedup_sentences_within_doc")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_shard_is_single_shuffle(spark, sf_dir):
    """Shuffle-and-shard pays exactly one exchange (the shard_id window
    partition); the shuffle key is computed map-side."""
    plan = plan_of(spark, sf_dir, "shard_training_data")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_substring_spans_no_cartesian_no_python(spark, sf_dir):
    """Exact-substring dedup blocks on the gram hash: equi-join only, all
    JVM."""
    plan = plan_of(spark, sf_dir, "dedup_exact_substring")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_bloom_bits_broadcast_and_no_cartesian(spark, sf_dir):
    # The filter content (set-bit positions) must broadcast into the
    # probe; the only non-broadcast join is the exact-membership leg.
    plan = plan_of(spark, sf_dir, "dedup_bloom_prefilter")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_heavy_hitters_candidates_broadcast(spark, sf_dir):
    # The MG candidate set broadcasts into the recount; the full token
    # stream must not shuffle on the token key except for candidates.
    plan = plan_of(spark, sf_dir, "text_heavy_hitters")
    assert "BroadcastHashJoin" in plan, plan
    # exactly one Python stage: the bounded mapInPandas candidate pass
    assert plan.count("MapInPandas") == 1, plan


def test_bpe_train_rounds_stay_jvm_side(spark, sf_dir):
    # Merge rounds are pure Column expressions over checkpointed frames:
    # no Python evaluation, no cartesian blowup (the per-round crossJoin
    # is against a 1-row broadcast).
    plan = plan_of(spark, sf_dir, "bpe_train_merges")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} in BPE plan"
    assert "CartesianProduct" not in plan, plan


def test_bpe_encode_word_lengths_broadcast(spark, sf_dir):
    # The word->BPE-length map must broadcast onto the exploded token
    # stream (vocabulary-sized build side, corpus-sized probe side).
    plan = plan_of(spark, sf_dir, "bpe_encode_lengths")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quarantine_gate_is_map_only(spark, sf_dir):
    """The quarantine gate is the cheapest pipeline stage by design: all
    five rules are Column expressions over one scan — no KEY shuffle, no
    Python eval. The single allowed exchange is ensure_parallelism's
    round-robin widening of a one-split local scan (a no-op at real scale
    where the scan is thousands of splits); a hashpartitioning exchange
    would mean the gate grew a grouping it must not have."""
    plan = plan_of(spark, sf_dir, "quality_quarantine")
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "EvalPython" not in plan, plan


def test_char_entropy_aggregates_partially(spark, sf_dir):
    """The (doc, char) count must be a partial+final HashAggregate pair so
    the exchange carries per-partition char counts, not one row per
    character of the corpus."""
    plan = plan_of(spark, sf_dir, "text_char_entropy")
    assert plan.count("HashAggregate") >= 4, plan  # two agg levels, each partial+final


def test_dsir_scoring_joins_broadcast(spark, sf_dir):
    """DSIR's bucket-ratio and word→ratio maps are vocabulary-sized: both
    must broadcast onto the token stream (shuffling the raw corpus's
    exploded tokens against them would move the corpus)."""
    plan = plan_of(spark, sf_dir, "curation_dsir_weights")
    assert "BroadcastHashJoin" in plan, plan


def test_anomaly_zscore_single_shuffle(spark, sf_dir):
    """The rolling z-score pays exactly one hash exchange (the per-user
    window partition); mean/stddev/count share the same frame."""
    plan = plan_of(spark, sf_dir, "events_anomaly_zscore")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bigram_unigram_side_broadcasts(spark, sf_dir):
    """The interpolated bigram LM must broadcast the unigram table (the
    bigram table legitimately shuffles — vocabulary², still far below
    corpus scale)."""
    plan = plan_of(spark, sf_dir, "doc_bigram_logppl")
    assert "BroadcastHashJoin" in plan, plan


def test_html_extract_no_udf_no_shuffle(spark, sf_dir):
    """HTML synthesis + extraction is one regexp Column chain over one
    scan: no Python eval node, no exchange — parquet-scan speed at 100 TB."""
    plan = plan_of(spark, sf_dir, "text_html_extract")
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_fix_mojibake_no_udf_no_shuffle(spark, sf_dir):
    """The 28-pair literal-replace chain stays JVM-side and map-only."""
    plan = plan_of(spark, sf_dir, "text_fix_mojibake")
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_global_ids_no_single_partition_exchange(spark, sf_dir):
    """Dense global ids must never funnel through one reducer — the
    distributed offsets recipe is the whole point vs the oracle's
    row_number() OVER (ORDER BY ...)."""
    plan = plan_of(spark, sf_dir, "assign_global_ids")
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # bounded offsets broadcast back


def test_zorder_report_stays_jvm_and_partial(spark, sf_dir):
    """The Morton key is integer Column arithmetic: no Python eval; the
    256-group aggregate must be a partial+final pair."""
    plan = plan_of(spark, sf_dir, "layout_zorder_report")
    assert "EvalPython" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_reservoir_per_group_has_partial_group_limit(spark, sf_dir):
    """The per-group reservoir must prune to k rows per group BEFORE the
    shuffle (partial WindowGroupLimit) — the plan virtue that makes
    sampling 10/group from 100 TB shuffle O(groups*k), not the corpus."""
    plan = plan_of(spark, sf_dir, "sample_reservoir_per_group")
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
