"""Physical-plan regression tests — the scale posture, pinned.

Correctness tests prove WHAT the queries compute; these prove HOW:
filters reach the parquet scan, dimensions broadcast, aggregates combine
map-side before the exchange, top-k avoids global sorts. A regression
here is invisible at sf0.01 and catastrophic at 100 TB, which is exactly
why it's asserted.
"""

from __future__ import annotations

import re

import pytest

from mapreduce_4_spark.plans import REGISTRY


def _plan(spark, sf_oracle, name: str) -> str:
    df = REGISTRY[name].builder(spark, sf_oracle)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "filter_project_lineitem")
    # the toString render truncates long filter lists, so assert on the
    # first filters only
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan


def test_column_pruning_reads_only_needed_columns(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "wordcount_per_doc")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}, cols


def test_star_join_broadcasts_all_dimensions(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q5_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # at sf0.01 everything fits broadcast
    # lineitem feeds the probe side of a broadcast join directly: no
    # exchange between the fact scan and the first join
    assert plan.count("Exchange hashpartitioning") <= 1  # only the final agg


def test_partial_aggregate_before_shuffle(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "wordcount_per_doc")
    partial = plan.index("partial_count")
    exchange = plan.index("Exchange")
    final = plan.index("count(1)")
    # plan prints top-down: final agg, then exchange, then partial agg
    assert final < exchange < partial, plan


def test_topk_uses_take_ordered_not_global_sort(spark, sf_oracle):
    for name in ("orders_sorted_limit", "top10_customers_by_revenue",
                 "wordcount_topk", "q3_shipping_priority"):
        plan = _plan(spark, sf_oracle, name)
        assert "TakeOrderedAndProject" in plan, (name, plan)
        assert "Exchange rangepartitioning" not in plan, (name, plan)


def test_semi_anti_joins_use_dedicated_types(spark, sf_oracle):
    semi = _plan(spark, sf_oracle, "join_semi_customers_with_f_orders")
    anti = _plan(spark, sf_oracle, "join_anti_customers_without_big_orders")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_no_cartesian_in_lsh_dedup(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "minhash_lsh_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_signature_is_one_compiled_aggregate(spark, sf_oracle):
    """The 64 MinHash slot minima are ONE HashAggregate (compiled; not an
    ObjectHashAggregate or SortAggregate), no per-slot
    array_min(transform(...)) lambda survives, and the executed (final
    AQE) plan computes the signature exactly once — the candidate stage
    reads the band table once instead of once per self-join side."""
    df = REGISTRY["minhash_lsh_neardup"].builder(spark, sf_oracle)
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    plan = adaptive.toString()
    assert "isFinalPlan=true" in plan
    # the final physical plan alone (a cached input still prints its own
    # nested initial plan, so splitting the string would not isolate it)
    final = adaptive.executedPlan().toString()
    assert "array_min(transform(" not in plan
    # short docs need no size >= n filter (their gram array explodes to
    # nothing); one would be pushed below the repartition and tokenize
    # every document a second time
    assert not re.search(r"Filter .*split\(", plan), plan
    # final-mode min slots print as functions=[min(..), ...]; toString
    # elides past 25 entries as "... N more fields"
    sig_aggs = re.findall(
        r"(\w+)\(keys=\[doc_id#\d+L?\], functions=\[(min\(.*?)\], output=",
        final)
    assert len(sig_aggs) == 1, final
    op, funcs = sig_aggs[0]
    assert op == "HashAggregate", op
    more = re.search(r"\.\.\. (\d+) more fields$", funcs)
    n_slots = funcs.count("min(") + (int(more.group(1)) if more else 0)
    assert n_slots == 64, funcs


def test_events_window_agg_single_shuffle(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "events_tumbling_1h")
    assert plan.count("Exchange hashpartitioning") == 1


def test_q6_all_predicates_push_into_scan(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q6_forecast_revenue")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    # a single scan, no join, and the partial agg combines before the
    # one exchange that carries a single summary row
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_q4_exists_becomes_left_semi(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q4_priority_check")
    assert "LeftSemi" in plan


def test_q22_not_exists_becomes_left_anti(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q22_idle_customers")
    assert "LeftAnti" in plan
    # the scalar average arrives by broadcast, never a driver collect
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q17_threshold_join_reuses_partkey_partitioning(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q17_small_qty_revenue")
    # brand filter broadcasts; the per-part threshold aggregate and the
    # main join both hash on l_partkey, so at most those two exchanges
    # (plus none for the final single-row agg's partials)
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_scd2_single_join_no_extra_shuffle(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "scd2_customer_segments")
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
        + plan.count("ShuffledHashJoin")
    assert joins == 1, plan
    assert "CartesianProduct" not in plan


def test_interval_join_is_hash_join_not_cartesian(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "click_purchase_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_decorrelates_to_one_order_aggregate(spark, sf_oracle):
    # both EXISTS subqueries collapse into a single grouped aggregate over
    # the order key; the two countDistincts expand to the standard
    # two-exchange multi-distinct plan, plus one for the supplier rollup —
    # never one exchange per correlated subquery evaluation
    plan = _plan(spark, sf_oracle, "q21_sole_returner")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_q2_min_cost_arrives_by_broadcast(spark, sf_oracle):
    # the decorrelated per-part min joins back by broadcast; no cartesian.
    # derived_partsupp is a persisted session materialization, so its
    # distinct shuffle is paid once (it prints inside InMemoryRelation —
    # keyed on ps_partkey/ps_suppkey); the only LIVE exchange left is the
    # per-part min aggregate
    plan = _plan(spark, sf_oracle, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    live = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "ps_partkey" not in l
    ]
    assert len(live) == 1, plan


def test_q20_in_chain_decorrelates_to_left_semi(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q20_restock_candidates")
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan


def test_q9_partsupp_join_no_cartesian_all_dims_broadcast(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "q9_product_type_profit")
    assert "CartesianProduct" not in plan
    # part, supplier-geo broadcast; partsupp (fact-derived) + orders may
    # shuffle -- but never more than: partsupp distinct, orders join, agg
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_bucketed_fact_tables_make_joins_and_aggs_exchange_free(
        spark, sf_oracle, tmp_path):
    # a fact table persisted ONCE with bucketBy(join_key) never shuffles
    # again for equi-joins or aggregations on that key — the 100 TB
    # alternative to paying a lineitem-sized exchange per query
    from mapreduce_4_spark.sources.versioned import read_version, write_version

    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(f"{sf_oracle}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    write_version(li, str(tmp_path / "li"), bucket_by=["l_orderkey"], n_buckets=8)
    write_version(od, str(tmp_path / "od"), bucket_by=["o_orderkey"], n_buckets=8)
    a = read_version(spark, str(tmp_path / "li"))
    b = read_version(spark, str(tmp_path / "od"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, a.l_orderkey == b.o_orderkey)
        jplan = j._jdf.queryExecution().executedPlan().toString()
        g = a.groupBy("l_orderkey").count()
        gplan = g._jdf.queryExecution().executedPlan().toString()
        n_rows = j.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange" not in jplan, jplan
    assert "SortMergeJoin" in jplan
    assert "Exchange" not in gplan, gplan
    assert n_rows == li.count()


def test_q8_seven_relation_star_single_exchange(spark, sf_oracle):
    # every dimension broadcasts; the only exchange carries the per-year
    # aggregate partials — the lineitem scan feeds probe sides directly
    plan = _plan(spark, sf_oracle, "q8_market_share")
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_weighted_sample_uses_take_ordered(spark, sf_oracle):
    # the weighted sample is a top-k by sampling key: per-partition heads
    # + one merge, never a global sort of the corpus
    plan = _plan(spark, sf_oracle, "weighted_sample_docs")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_pack_documents_single_exchange(spark, sf_oracle):
    # greedy packing is one window over (lang): exactly one shuffle,
    # no join, no global sort
    plan = _plan(spark, sf_oracle, "pack_documents_bins")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan


def test_heavy_hitters_total_arrives_by_broadcast(spark, sf_oracle):
    # the corpus-total threshold joins in as a one-row broadcast, not a
    # second aggregation pass over the token table
    plan = _plan(spark, sf_oracle, "heavy_hitter_words")
    assert "BroadcastNestedLoopJoin" in plan
    # token counting combines map-side before its exchange
    partial = plan.index("partial_count")
    assert plan.index("Exchange") < partial


def test_exact_jaccard_has_no_quadratic_join(spark, sf_oracle):
    # the exact tier generates candidates from PREFIX grams only (each
    # doc's rarest (1-t)m+1 grams in global df order) — never the
    # lang-blocked all-pairs product the oracle SQL states, and never
    # an unbounded hot-gram self-join
    plan = _plan(spark, sf_oracle, "ngram_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate self-join keys on (lang, gram), not the block alone
    assert "gram" in plan
    # the df-order prefix ranking is present: a row_number window over
    # the per-doc gram relation feeds the rk <= prefix-length filter
    assert "row_number" in plan
    assert "div" in plan  # integer-exact ceil(t*m), no float rounding


def test_fuzzy_er_verifies_on_distinct_names(spark, sf_oracle):
    # Levenshtein runs once per DISTINCT (block, name) pair: both join
    # inputs aggregate/distinct BEFORE the distance filter, so the
    # expensive verify never touches keyed-row cardinality
    plan = _plan(spark, sf_oracle, "fuzzy_join_part_names")
    lev = plan.index("levenshtein")
    agg_positions = [m.start() for m in re.finditer("HashAggregate", plan)]
    assert sum(1 for p in agg_positions if p > lev) >= 2, (
        "expected the distinct/min-key aggregates below the Levenshtein "
        "verify (executedPlan prints children after parents)"
    )
    assert "CartesianProduct" not in plan


def test_embedding_near_dup_has_no_quadratic_join(spark, sf_oracle):
    """The exact cosine pair join must not fall back to the naive
    all-pairs BroadcastNestedLoopJoin (24s at sf0.1, dead at 100x): the
    blocked form is equi-joins + mapInPandas only."""
    plan = _plan(spark, sf_oracle, "embedding_near_dup_pairs")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_pairs_aggregates_vocabulary_then_takeordered(spark, sf_oracle):
    """Pair counts aggregate over the VOCABULARY (word -> count first,
    map-side combine), and the top-30 is TakeOrderedAndProject, never a
    global sort."""
    plan = _plan(spark, sf_oracle, "bpe_top_pairs")
    assert "TakeOrderedAndProject" in plan
    # two keyed aggregations: word counts, then pair counts
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_winnowing_explodes_expression_not_inferred_filters(spark, sf_oracle):
    """The gram pipeline must evaluate once per document: Generate over a
    materialized array column triggers InferFiltersFromGenerate, whose
    size/isnotnull guards re-run the tokenizer 2-3x (measured 5.7s vs
    0.8s at sf0.1 for the explode stage). Pinned by counting tokenizer
    occurrences in the executed plan: the length filter, the gram
    projection, and the scan node's DataFilters rendering of that same
    filter — anything beyond 3 means inferred generate guards are back."""
    plan = _plan(spark, sf_oracle, "winnow_fingerprints_docs")
    # the tokenizer's cleaning pass is translate() since round 14
    # (regexp_replace before) — count both spellings so the pin tracks
    # the tokenizer wherever it appears
    n_tokenizer = plan.count("translate") + plan.count("regexp_replace")
    assert n_tokenizer <= 3, plan
    assert "CartesianProduct" not in plan


def test_block_dedup_no_quadratic_join_and_no_hot_key_window(spark,
                                                             sf_oracle):
    plan = _plan(spark, sf_oracle, "block_dedup_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the first-occurrence pick must be an aggregate (partial min
    # combines a hot boilerplate block map-side), never a per-btext
    # window sort that funnels a hot key through one task
    assert "partial_min" in plan
    assert "row_number" not in plan


def test_source_token_drift_no_vocab_grid(spark, sf_oracle):
    """TVD must come from the (source, token) relation joined to the
    vocabulary on its key plus a ONE-ROW broadcast total — never a
    sources x vocabulary grid (that dies at a 1e9-token vocabulary)."""
    plan = _plan(spark, sf_oracle, "source_token_drift")
    assert "CartesianProduct" not in plan
    # the corpus total joins in as a one-row broadcast
    assert "BroadcastNestedLoopJoin" in plan
    # HUGEINT-class exactness: the cross-products ride decimal(38,0)
    assert "decimal(38,0)" in plan


def test_quantize_recall_bounded_brute_force(spark, sf_oracle):
    """Both ranking passes broadcast only the 5-row query side (the
    bounded brute-force contract shared with similarity_bruteforce) and
    the top-10 rides the WindowGroupLimit pushdown, not a full sort of
    the pair space."""
    plan = _plan(spark, sf_oracle, "embedding_quantize_recall")
    assert "LessThan(vec_id,5)" in plan
    assert "WindowGroupLimit" in plan


def test_gdpr_delete_is_broadcast_anti_join(spark, sf_oracle):
    """The erasure-request list broadcasts and the fact table never
    shuffles for the delete itself — at 100 TB the delete costs one scan
    plus the rewrite, never a repartition of the base."""
    plan = _plan(spark, sf_oracle, "gdpr_delete_orders")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_degree_histogram_single_pair_lineage(spark, sf_oracle):
    """The near-dup degree histogram must not duplicate the pair
    pipeline: endpoints come from ONE explode over the pair relation,
    never a two-branch union of it (measured 29 vs 16 shuffles)."""
    plan = _plan(spark, sf_oracle, "neardup_degree_histogram")
    base = _plan(spark, sf_oracle, "ngram_jaccard_pairs")
    n_scans = plan.count("ReadSchema: struct<")
    base_scans = base.count("ReadSchema: struct<")
    assert n_scans <= base_scans + 1, (n_scans, base_scans)
    assert "CartesianProduct" not in plan


def test_per_doc_transforms_have_zero_exchanges(spark, sf_oracle):
    """gopher_quality_docs and intra_doc_repeat_trim are pure per-row
    column expressions — any Exchange in their plans means a shuffle
    crept into what must stay an embarrassingly parallel scan."""
    for name in ("gopher_quality_docs", "intra_doc_repeat_trim"):
        plan = _plan(spark, sf_oracle, name)
        assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan}"


def test_packing_report_single_shuffle(spark, sf_oracle):
    """The per-lang window and the per-lang aggregate must share ONE
    hash partitioning on lang — two Exchanges means the agg re-shuffled
    what the window already co-located."""
    plan = _plan(spark, sf_oracle, "packing_efficiency_report")
    assert plan.count("Exchange") == 1, plan


def test_decontam_lsh_is_single_broadcast_bucket_join(spark, sf_oracle):
    """The LSH-routed decontam must stay a single broadcast hash join on
    the bucket key (bench probes broadcast, corpus untouched) + one
    aggregate exchange — never a nested-loop or corpus shuffle. The
    exact twin's |bench|-multiplier crossJoin is exactly what this plan
    shape removes."""
    plan = _plan(spark, sf_oracle, "semantic_decontam_lsh")
    assert plan.count("BroadcastHashJoin") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_decontam_lsh_amplified_keeps_single_join_plan(spark, sf_oracle):
    """OR-amplification (n_tables=4) must not change the plan SHAPE:
    the combined t*2^p+bucket key keeps it one BroadcastHashJoin on one
    long key + one aggregate exchange — the recall dial buys collisions
    with bench-side fan-out, never with extra joins or corpus
    shuffles."""
    plan = _plan(spark, sf_oracle, "semantic_decontam_lsh_amplified")
    assert plan.count("BroadcastHashJoin") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_span_dedup_no_distinct_expand_no_pair_blowup(spark, sf_oracle):
    """exact_span_dedup_docs' ownership test is a plain MIN aggregate —
    a COUNT(DISTINCT doc_id) would add an Expand node and double the
    gram shuffle width for a predicate MIN already implies (doc_id !=
    owner => >= 2 distinct docs). The join must stay a gram-keyed hash
    join: no cartesian, no nested loop, no doc x doc pair explosion."""
    plan = _plan(spark, sf_oracle, "exact_span_dedup_docs")
    assert "Expand" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # ownership agg combines map-side before its exchange
    assert re.search(r"HashAggregate.*partial_min", plan), plan


def test_textrank_iterations_stay_hash_joins(spark, sf_oracle):
    """The unrolled PageRank iterations must stay vocabulary-keyed hash
    joins with the one-row node count BROADCAST — a cartesian or
    nested-loop anywhere in the 6-iteration DAG would blow up with the
    graph, and a shuffled 1-row count would add 6 pointless
    exchanges."""
    plan = _plan(spark, sf_oracle, "textrank_keywords_docs")
    assert "CartesianProduct" not in plan
    # the one BNLJ family present is the deliberate 1-row count
    # broadcast (same bounded-side precedent as the exact decontam
    # tier); rank ⋈ edges itself must never appear as a nested loop,
    # which the 1-row bound guarantees: every BNLJ here has the
    # broadcast(nn) aggregate as its build side
    assert plan.count("BroadcastNestedLoopJoin") >= 1
    # top-15 is a TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_dv_read_is_one_broadcast_left_anti(spark, tmp_path):
    """A deletion-vector read must cost exactly ONE broadcast left-anti
    join over the scan while the vector is small (the manifest-recorded
    cardinality decides, never a Catalyst estimate): no shuffled
    anti-join, no cartesian, and the data columns still come from a
    plain parquet scan."""
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources.versioned import (
        delete_version_dv,
        read_version,
        write_version,
    )

    tdir = str(tmp_path / "t")
    write_version(
        spark.range(100).select(F.col("id").alias("k")).coalesce(2),
        tdir, append=True)
    delete_version_dv(spark, tdir, keys=[3, 7], key="k")
    plan = read_version(spark, tdir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_stack_never_goes_all_pairs(spark, sf_oracle):
    """The composed ANN stack's joins must all be broadcast-bounded or
    key-bucketed: the only nested-loop joins are the BOUNDED broadcasts
    (8-row coarse centroids for assignment/probing, 16-row PQ seed,
    5-row query side — the textrank 1-row-count contract class), and
    nothing is ever a cartesian over the corpus."""
    plan = _plan(spark, sf_oracle, "ivf_pq_search_recall")
    assert "CartesianProduct" not in plan
    # every BroadcastNestedLoopJoin here builds a <=16-row side; a
    # corpus-sized BNLJ would be a regression this cap catches
    assert plan.count("BroadcastNestedLoopJoin") <= 6, plan.count(
        "BroadcastNestedLoopJoin")


def test_ann_routing_and_encode_are_map_only(spark, sf_oracle):
    """Round-12 pin: IVF coarse routing, probe selection, and the PQ
    encode/reconstruct are MAP-ONLY — the centroids/codebook collapse
    to ONE broadcast row and the argmin is a per-row expression
    (operators/clustering.py's shape), so the stages that exist to
    avoid data movement move none: zero hash-partitioned Exchange of
    any kind (the only Exchanges allowed are the one-row broadcast and
    the SinglePartition collect_list that builds it). The old
    broadcast-join + window row_number pattern put 5 corpus-keyed
    Exchanges in ivf_pq_search_recall's routing/encode stages."""
    from pyspark.sql import functions as F

    from mapreduce_4_spark.operators.ann_ivf import _assign, train_centroids
    from mapreduce_4_spark.plans.quantization import (
        coarse_assigned,
        pq_reconstructions,
    )
    from mapreduce_4_spark.functions.vectors import as_double
    from mapreduce_4_spark.sources import load_table

    emb = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", as_double("embedding").alias("e"))
    raw = load_table(spark, sf_oracle, "embeddings").select(
        "vec_id", "embedding")

    stages = {
        "coarse_assigned": coarse_assigned(emb),
        "pq_reconstructions": pq_reconstructions(emb),
        "ivf_assign": _assign(
            raw, train_centroids(raw, k=8, iters=0), "embedding", "vec_id"),
    }
    for name, df in stages.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        # a corpus-keyed window/argmin would force exactly this node; the
        # only windows left are the k-row seed row_numbers, which run
        # post-limit over Exchange SinglePartition
        assert "Exchange hashpartitioning" not in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


#: every query whose money aggregate moved from a DECIMAL(18,2)/(18,4)
#: accumulator to long cents (functions/money.py)
_MONEY_MIGRATED = (
    "q8_market_share", "q9_product_type_profit", "q11_important_stock",
    "gdpr_delete_orders", "retention_delete_orders",
    "cow_delete_orders_chain", "dv_delete_orders_chain",
    "cow_update_orders_chain", "clustered_chain_fold_orders",
    "wide_delete_orders_chain", "events_resample_hourly",
    "versioned_pushdown_orders", "cdc_change_feed_orders",
    "cdc_batch_window_orders", "cdc_delta_shape_orders",
    "stream_write_orders", "incremental_revenue_rollup",
    "incremental_join_refresh", "incremental_mv_cdc_orders",
)


def _decimal_accumulators(plan: str) -> list[str]:
    """The arguments of every ``sum(...)`` in ``plan`` that cast to
    DECIMAL(18,2) or DECIMAL(18,4)."""
    found = []
    for m in re.finditer(r"\bsum\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        arg = plan[m.end():i - 1]
        if re.search(r"decimal\(18,[24]\)", arg):
            found.append(arg)
    return found


@pytest.mark.parametrize("name", _MONEY_MIGRATED + ("stream_tumbling_counts",))
def test_money_aggregates_have_no_decimal_accumulator(spark, sf_smoke,
                                                      monkeypatch, name):
    """One money discipline: no migrated query sums over a DECIMAL(18,x)
    cast. Queries that commit a versioned chain at build time collect
    their aggregate inside the builder, so every DataFrame collected
    during the build is checked along with the returned one."""
    from pyspark.sql import functions as F

    from mapreduce_4_spark.sources import load_table
    from mapreduce_4_spark.streaming.events_stream import (
        stream_tumbling_counts,
    )

    plans = []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame
    collect = frame_cls.collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    if name == "stream_tumbling_counts":
        ev = load_table(spark, sf_smoke, "events")
        df = stream_tumbling_counts(
            ev.withColumn("ts", F.col("ts").cast("timestamp")))
    else:
        df = REGISTRY[name].builder(spark, sf_smoke)
    plans.append(df._jdf.queryExecution().optimizedPlan().toString())
    assert any("sum(" in p for p in plans), plans
    assert [a for p in plans for a in _decimal_accumulators(p)] == []
