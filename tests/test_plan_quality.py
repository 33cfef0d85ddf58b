"""Physical-plan quality gates: the scale properties (pushdown, shuffle
count, broadcast, no nested loop, column pruning) asserted explicitly so a
refactor cannot silently regress them. These are the properties the
100 TB story rests on — cheap to check at sf0.001 because they are plan
facts, not data facts.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark import plans

from conftest import SF_SMOKE


def plan_of(spark, name: str) -> str:
    df = plans.get(name).fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_gold_candles_is_single_shuffle(spark):
    # gold_candles_1m returns the shared MATERIALIZED candle table (an
    # eager localCheckpoint every downstream candle query reuses), so the
    # single-shuffle property is asserted on the build plan itself
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans import (
        medallion,
    )

    df = medallion._gold(spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    # one HASH exchange for the windowed aggregation; `spread` may add
    # one round-robin exchange when the scan arrives narrower than the
    # cluster (one-row-group testdata) and adds none on a wide scan
    assert 1 <= p.count("Exchange") <= 2
    assert p.count("hashpartitioning") == 1
    # map-side partial aggregation before the exchange
    assert "partial" in p.lower()


def test_tpch_q1_pushes_date_filter_to_scan(spark):
    p = plan_of(spark, "tpch_q1_pricing_summary")
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", p)
    # one hash exchange for the group-by; `spread` may add one
    # round-robin exchange when the scan arrives narrower than the
    # cluster (sf0.1's one-row-group file) and adds none on a wide scan
    assert 1 <= p.count("Exchange") <= 2
    assert p.count("hashpartitioning") == 1


def test_silver_parse_is_narrow(spark):
    p = plan_of(spark, "silver_typed_ticks")
    assert p.count("Exchange") == 0
    # type gate reaches the parquet scan
    assert "In(event_type" in p


def test_exact_cosine_topk_has_no_pre_topk_exchange(spark):
    p = plan_of(spark, "sim_cosine_topk")
    assert p.count("Exchange") == 0
    assert "TakeOrderedAndProject" in p
    # the query-vector exclusion prunes at the scan
    assert "Not(EqualTo(vec_id,0))" in p


def test_topk_queries_avoid_global_sort(spark):
    for name in ("top_parts_by_revenue", "gold_latest_candles"):
        p = plan_of(spark, name)
        assert "TakeOrderedAndProject" in p, name


def test_dimension_joins_broadcast(spark):
    p = plan_of(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def _tree_depth(line: str) -> int:
    """Indent depth of a Scala plan-tree line (3 chars per level)."""
    m = re.search(r"[+:]-", line)
    return m.start() // 3 if m else -1


def _broadcast_hint_children(plan: str) -> list[list[str]]:
    """Subtree (list of stripped lines) under each broadcast ResolvedHint."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "ResolvedHint (strategy=broadcast)" not in line:
            continue
        d = _tree_depth(line)
        sub = []
        for nxt in lines[i + 1 :]:
            nd = _tree_depth(nxt)
            if nd <= d:
                break
            sub.append(re.sub(r"^[\s:+-]*", "", nxt))
        out.append(sub)
    return out


def test_no_broadcast_hint_on_unbounded_relation(spark):
    """Every pinned F.broadcast in the relational plans must cover a
    bounded-cardinality frame: nation/region (25/5 rows by TPC-H spec,
    independent of SF) or a global (ungrouped) aggregate that reduces to a
    single row. A hint pinned on an SF-proportional relation (part,
    supplier, customer, orders, lineitem or any filtered subset) OOMs
    executors at 100x — AQE's runtime join-strategy switching must be the
    thing that broadcasts those, not a hint. Checked on the ANALYZED plan
    because that is where hints live before the planner consumes them.
    """
    names = [n for n, s in plans.all_queries().items()
             if s.__module__.endswith("plans.relational")]
    assert len(names) >= 20
    for name in names:
        df = plans.get(name).fn(spark, SF_SMOKE)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        for sub in _broadcast_hint_children(analyzed):
            assert sub, f"{name}: empty hint subtree"
            # single-row global aggregate: `Aggregate [exprs]` with exactly
            # one bracket group (grouped form is `Aggregate [keys], [outs]`)
            root = sub[0]
            if root.startswith("Aggregate [") and "], [" not in root:
                continue
            rels = [l for l in sub if l.startswith("Relation [")]
            assert rels, f"{name}: hint subtree has no Relation\n{sub}"
            for rel in rels:
                first_col = rel[len("Relation ["):].split(",")[0].split("#")[0]
                assert first_col.startswith(("n_", "r_")), (
                    f"{name}: broadcast hint pinned over unbounded relation "
                    f"({rel})"
                )


@pytest.mark.parametrize(
    "name",
    ["doc_near_dup_pairs", "emb_near_dup_pairs", "busy_window_events",
     "asof_last_click_before_purchase", "emb_threshold_join_exact"],
)
def test_candidate_joins_never_nested_loop(spark, name):
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_ivf_index_probe_is_partition_pruning(spark, tmp_path):
    """The materialized IVF index turns the probe filter into PLANNING-TIME
    partition pruning: the scan carries a PartitionFilters entry on cell,
    and the files it reads are exactly the probed cells' directories —
    unprobed cells are never listed, the 100 TB contract of the index."""
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.ann_index import (
        read_ivf_cells,
        write_ivf_index,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans.similarity import (
        _centroids,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.testdata import (
        load_table,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, _centroids(spark, SF_SMOKE))
    probed = [1, 2, 3, 4]
    hits = read_ivf_cells(spark, path, probed)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    # files ACTUALLY scanned (input_file_name reflects post-pruning reads;
    # DataFrame.inputFiles() would report the whole relation pre-filter)
    all_files = {
        r.f
        for r in spark.read.parquet(path)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    probe_files = {
        r.f for r in hits.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert 0 < len(probe_files) < len(all_files)
    assert all(
        any(f"cell={c}/" in f for c in probed) for f in probe_files
    ), probe_files


def test_ivfpq_index_probe_prunes_and_reads_no_embedding(spark, tmp_path):
    """IVF-PQ index: the probe scan must (a) partition-prune on cell
    like the plain IVF index and (b) read a schema WITHOUT any raw
    embedding column — the codes table IS the 64x memory cut, so an
    embedding column in the ReadSchema would mean the index silently
    stored what it exists to discard."""
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.ann_index import (
        read_ivf_cells,
        write_ivfpq_index,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.functions.similarity import (
        ivf_cell_column,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans.similarity import (
        _centroids,
        _pq_coded,
        _pq_driver_tables,
        _query_vector,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.testdata import (
        load_table,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = _centroids(spark, SF_SMOKE)
    _qq, _qn2, csub, _ad, _cn = _pq_driver_tables(
        _query_vector(spark, SF_SMOKE), cents
    )
    path = str(tmp_path / "ivfpq_index")
    write_ivfpq_index(
        _pq_coded(
            emb.withColumn("cell", ivf_cell_column(cents)),
            csub,
            extra_cols=("cell",),
        ),
        path,
    )
    hits = read_ivf_cells(spark, path, [1, 2, 3, 4])
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "embedding" not in m.group(1), plan
    assert "c0" in m.group(1) and "c7" in m.group(1)


def test_text_scans_prune_columns(spark):
    # token stats must not drag the whole documents row through the scan
    p = plan_of(spark, "text_token_stats")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "doc_id" in cols and len(cols) <= 4


def test_tpch_q3_pushes_both_date_filters(spark):
    p = plan_of(spark, "tpch_q3_top_urgent_orders")
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_orderdate", p)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_shipdate", p)
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_outer_joins_stay_hash_based(spark):
    for name in ("customer_order_profile", "nation_market_balance"):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, name


def test_ngram_jaccard_postings_join_never_nested_loop(spark):
    p = plan_of(spark, "doc_ngram_jaccard_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_cube_is_single_shuffle(spark):
    p = plan_of(spark, "venue_side_cube")
    # grouping-set expansion happens map-side (Expand before one Exchange)
    assert "Expand" in p
    assert p.count("Exchange") == 1


def test_unpivot_adds_no_exchange_beyond_candle_agg(spark):
    # the unpivot reads the materialized candle table, so the row-local
    # melt adds NO exchange at all (the candle agg's one shuffle happened
    # at build time)
    p = plan_of(spark, "candle_ohlc_unpivot")
    assert p.count("Exchange") == 0


def test_moving_avg_is_single_window_shuffle(spark):
    p = plan_of(spark, "customer_order_moving_avg")
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_kmv_sketch_aggregates_partially(spark):
    p = plan_of(spark, "event_user_distinct_kmv")
    # the two-level sketch must keep map-side partials and hash joins only
    assert "partial" in p.lower()
    assert "CartesianProduct" not in p


def test_stateful_alerts_run_in_arrow_groups(spark):
    p = plan_of(spark, "tick_new_high_alerts")
    assert "FlatMapGroupsInPandas" in p


def test_q6_pushes_all_predicates_to_scan(spark):
    p = plan_of(spark, "tpch_q6_forecast_revenue")
    # Spark truncates the scan metadata, so don't require the closing
    # bracket — just that every predicate column shows up as pushed.
    m = re.search(r"PushedFilters: \[(.*?), ReadSchema", p, re.S)
    assert m, p
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in m.group(1), m.group(1)
    assert "partial" in p.lower()


def test_top_n_per_group_is_single_shuffle(spark):
    p = plan_of(spark, "top_orders_per_customer")
    assert p.count("Exchange") == 1
    assert "Window" in p


def test_running_vwap_broadcasts_offsets_and_shares_exchange(spark):
    """Two-level running VWAP: the chunk-offset table must come back via
    broadcast (never a fact-fact shuffle join), and the chunk-local
    window + totals branches must ride ONE (symbol, chunk) exchange."""
    p = plan_of(spark, "tick_running_vwap")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # ticks shuffle once on (symbol, chunk); the prefix pass runs on the
    # per-chunk summary only (symbol exchange of a tiny table)
    assert "CartesianProduct" not in p


def test_repetition_scores_tokenizes_once(spark):
    """Both metric branches must read the materialized token table: the
    split() kernel appears in the checkpointed subtree, not inlined into
    the exploded per-token stream."""
    p = plan_of(spark, "doc_repetition_scores")
    # the shingler (concat_ws over slices) must not sit above the explode
    gen = p.split("Generate explode", 1)
    assert len(gen) == 2, "token explode missing"
    assert "concat_ws" not in gen[1].split("Scan")[0]


def test_q18_aggregates_lineitem_once(spark):
    """The HAVING total is reused as the output column: exactly one
    lineitem scan, one orderkey shuffle for the aggregate."""
    p = plan_of(spark, "tpch_q18_large_volume_orders")
    assert p.count("lineitem.parquet") == 1
    assert "TakeOrderedAndProject" in p


def test_q22_scalar_subquery_broadcasts_not_cartesian(spark):
    """The 1-row average joins in via broadcast nested loop (fine: one
    row), and the NOT EXISTS compiles to a hash-based anti join — never
    a cartesian product."""
    p = plan_of(spark, "tpch_q22_idle_customer_balance")
    assert "CartesianProduct" not in p
    assert "LeftAnti" in p


def test_q19_pushes_disjunction_implications_to_scans(spark):
    # Catalyst extracts per-side implications of the OR-of-ANDs: the
    # lineitem scan gets the quantity envelope, the part scan the brand set.
    p = plan_of(spark, "tpch_q19_disjunctive_revenue")
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", p), p
    assert re.search(r"PushedFilters: \[[^\]]*p_brand", p), p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q14_is_broadcast_join_single_agg_exchange(spark):
    # month filter to the lineitem scan, part broadcast, one-row final agg:
    # the only exchange is the single-partition gather for the scalar row.
    p = plan_of(spark, "tpch_q14_promo_revenue")
    assert "BroadcastHashJoin" in p
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", p)
    assert p.count("Exchange hashpartitioning") == 0


# (test_q15_scans_lineitem_once removed: the broadcast-scalar-max rewrite
# collapses the two revenue references via AQE stage reuse, which only
# shows in the EXECUTED plan — superseded by
# test_q15_scalar_max_is_broadcast_not_global_window below.)


def test_q10_pushes_both_fact_filters(spark):
    p = plan_of(spark, "tpch_q10_returned_items")
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", p)
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", p)
    assert "TakeOrderedAndProject" in p


def test_stratified_sample_filter_is_scan_local(spark):
    # hash-threshold sampling must not shuffle: keep/drop is row-local
    p = plan_of(spark, "doc_stratified_sample")
    assert p.count("Exchange") == 0


def test_vocab_stats_dedups_distinct_map_side(spark):
    # the single count(DISTINCT token) plans as a two-level aggregate:
    # partial on (lang, token) before any exchange — the heavy dedup is
    # distributed and map-side, never a single-node distinct.
    p = plan_of(spark, "doc_vocab_stats")
    assert "partial_count(1)" in p and "keys=[lang" in p
    assert re.search(r"HashAggregate\(keys=\[lang#\d+, token#\d+\], functions=\[partial_count", p)


def shuffle_count(p: str) -> int:
    """Shuffle exchanges only — BroadcastExchange also contains the
    substring 'Exchange' but moves a bounded build side, not the data."""
    return len(re.findall(r"Exchange (?:hash|range)partitioning", p))


def test_q2_aggregates_and_windows_on_one_partitioning(spark):
    # the derived cost relation groups on (l_partkey, l_suppkey) and the
    # window min runs on l_partkey: two shuffles max (agg + window),
    # dims all broadcast, top-100 via TakeOrderedAndProject.
    p = plan_of(spark, "tpch_q2_min_cost_supplier")
    assert shuffle_count(p) <= 2, p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q11_scans_lineitem_once(spark):
    # the scalar average comes from the shared() (checkpointed) aggregated
    # frame — both branches read the materialized RDD, so the plan has NO
    # second lineitem scan; the 1-row average joins in via broadcast
    # (nested-loop on one row is fine), never cartesian
    p = plan_of(spark, "tpch_q11_important_parts")
    assert "Scan ExistingRDD" in p, p
    assert p.count("lineitem.parquet") == 0, p
    assert "CartesianProduct" not in p


def test_q12_pushes_date_range_to_scan(spark):
    p = plan_of(spark, "tpch_q12_shipmode_priority")
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p


def test_q16_anti_join_broadcasts(spark):
    # the negative-balance supplier list is bounded — its anti join must
    # broadcast, never shuffle lineitem for it
    p = plan_of(spark, "tpch_q16_supplier_part_types")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p


def test_q20_two_level_agg_scans_lineitem_once(spark):
    # pair-level and part-level aggregation both derive from the shared()
    # (checkpointed) pair frame: the lineitem scan ran exactly once at
    # materialization and is absent from the downstream plan
    p = plan_of(spark, "tpch_q20_excess_suppliers")
    assert "Scan ExistingRDD" in p, p
    assert p.count("lineitem.parquet") == 0, p
    assert "CartesianProduct" not in p


def test_q21_is_one_grouped_pass_over_lineitem(spark):
    # the EXISTS/NOT-EXISTS pair is folded into a single per-order
    # aggregation: lineitem scanned once, no self-joins
    p = plan_of(spark, "tpch_q21_waiting_orders")
    assert p.count("lineitem.parquet") == 1, p
    assert "TakeOrderedAndProject" in p


def test_quantization_stats_is_pure_projection(spark):
    # row-local quantization audit: no exchange anywhere in the plan
    p = plan_of(spark, "emb_quantization_stats")
    assert p.count("Exchange") == 0, p


def test_rarity_scores_shuffle_keys_are_bounded(spark):
    # corpus frequencies shuffle on the token (vocabulary-bounded) and the
    # scalar total rides a 1-row broadcast; no cartesian anywhere
    p = plan_of(spark, "doc_rarity_scores")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p, p


def test_funnel_windows_share_one_user_shuffle(spark):
    # three chained stage minima + the per-user collapse all key on
    # user_id: one hash shuffle, no per-user sort (unbounded frames)
    p = plan_of(spark, "event_funnel_conversion")
    assert shuffle_count(p) <= 2, p  # user_id exchange + single-row agg


def test_fingerprints_hash_each_token_once(spark):
    # token hashes are materialized in their own stage: exactly one md5 of
    # the token inside one aggregate fold, not 16 per-bit re-hashes
    p = plan_of(spark, "doc_fingerprints")
    assert p.count("md5") <= 3, p  # content_hash + token-hash (+ scan alias)


def test_kmeans_assignment_is_row_local(spark):
    """k-means must assign via inlined centroid literals: no explode of
    the embedding array, and the only exchanges are the two K-row
    aggregations (centroid update + final stats) off the one shared scan."""
    p = plan_of(spark, "emb_kmeans_clusters")
    assert "Generate" not in p  # no posexplode of vectors anywhere
    assert p.count("Exchange") == 1  # final per-cluster agg only
    assert "partial" in p.lower()  # map-side combine before it


def test_fuzzy_match_blocks_before_distance(spark):
    """Fuzzy join must be an equi-join on the block key (hash or
    sort-merge, never nested-loop), with the quadratic Levenshtein
    verify applied after blocking."""
    p = plan_of(spark, "part_name_fuzzy_matches")
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert "levenshtein" in p.lower()
    # the verify runs on the deduped name vocabulary, not raw part rows:
    # aggregate (distinct names) appears below the join
    assert p.lower().index("aggregate") > p.lower().index("join") or p.count(
        "HashAggregate"
    ) >= 2


def test_bigram_lm_joins_on_build_keys(spark):
    """The bigram/unigram count tables must join back on the same keys
    they aggregate on (pair, token) — no nested loop, no extra shuffle
    of the document bodies."""
    p = plan_of(spark, "doc_bigram_lm_scores")
    assert "NestedLoop" not in p or "BroadcastNestedLoopJoin BuildRight, Cross" in p
    assert "Cartesian" not in p


def test_pii_audit_is_pure_projection(spark):
    p = plan_of(spark, "doc_pii_redaction_audit")
    assert p.count("Exchange") == 0
    assert "Generate" not in p


def test_pq_topk_is_shuffle_free(spark):
    # codes + ADC lookups are row-local literals; top-k must plan as
    # TakeOrderedAndProject with zero exchanges
    p = plan_of(spark, "sim_cosine_topk_pq")
    assert p.count("Exchange") == 0
    assert "TakeOrderedAndProject" in p


def test_dv_read_applies_broadcast_anti_join(spark, tmp_path):
    # deletion-vector reads must drop positions via a BROADCAST anti-join
    # (per-task, no shuffle of surviving data), never a shuffled join
    from pyspark.sql import functions as F

    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.delta import (
        DeltaTable,
    )

    t = DeltaTable(str(tmp_path / "t"))
    t.write(spark.range(0, 1000).select(F.col("id"), (F.col("id") % 5).alias("g")))
    t.delete(spark, "g = 2")
    p = t.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_q15_scalar_max_is_broadcast_not_global_window(spark):
    """The Q15 scalar-max subquery must compile to a map-side-reducible
    aggregate broadcast back onto the per-supplier frame: no
    single-partition Window stage (the round-4 hotspot), and the two
    references to the revenue view collapse to ONE lineitem scan via
    ReuseExchange."""
    df = plans.get("tpch_q15_top_supplier").fn(spark, SF_SMOKE)
    df.collect()  # AQE applies stage reuse as stages materialize
    p = df._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "ReusedExchange" in p
    assert final.count("lineitem.parquet") == 1


def test_exact_substring_explodes_once(spark):
    """The gram stream must materialize from ONE Generate (explode):
    the freq-join formulation would run the explode + full-gram shuffle
    twice (measured 2.5x slower at the 10x probe)."""
    p = plan_of(spark, "doc_exact_substring_dups")
    assert p.count("Generate explode") == 1
    assert "documents.parquet" in p


def test_exact_substring_hashed_shuffles_bigint_not_string(spark):
    """The hashed variant's contract: xxhash64 collapses each 40-char
    window INSIDE the explode lambda, so every gram exchange partitions
    on the 8-byte bigint key — the string never crosses a shuffle."""
    p = plan_of(spark, "doc_exact_substring_hashed")
    assert p.count("Generate explode") == 1
    assert "xxhash64" in p
    # gram-keyed exchanges ride h (bigint, '#..L' suffix); no exchange
    # ever partitions on a string gram column
    assert re.search(r"hashpartitioning\(h#\d+L", p)
    assert not re.search(r"hashpartitioning\(g#\d+(?!L)", p)
    # and no 40-char substring survives past the scan-side project: the
    # only substring call sits under xxhash64 inside the lambda
    for m in re.finditer(r"substring\(", p):
        start = max(0, m.start() - 200)
        assert "xxhash64" in p[start : m.start() + 40]


def test_return_correlation_single_candle_aggregation(spark):
    """Pair joins ride the minute key; the candle aggregation (the only
    big shuffle) appears as hash aggregates, never a cartesian pair
    blowup."""
    p = plan_of(spark, "symbol_return_correlation")
    assert "CartesianProduct" not in p


def test_incremental_dedup_probe_is_hash_joined(spark):
    # the batch-vs-index probe must be a (band, band_sig) equi-join —
    # a nested-loop fallback here would be O(batch x corpus), the exact
    # thing the incremental shape exists to avoid
    p = plan_of(spark, "doc_incremental_dedup_audit")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_pretrain_funnel_joins_stay_hash_based(spark):
    # 8-stage composite: band-bucket self-join, two anti-joins, gram
    # membership join — all equi-joins; a cartesian anywhere here would
    # be quadratic in the corpus
    p = plan_of(spark, "doc_pretrain_funnel_audit")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_bloom_probe_broadcasts_filter_bits(spark):
    """The batch probe joins the (<= m rows) bit set as a BROADCAST —
    the batch side must never shuffle on position; and nothing here may
    fall back to a nested loop (that would be O(batch x bits))."""
    p = plan_of(spark, "doc_bloom_dedup_audit")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_cms_sketch_aggregates_partially(spark):
    """The CMS build must partial-aggregate map-side: a partial_count
    under the (d, cell) hash aggregate is what bounds the shuffle at
    DEPTH*WIDTH rows regardless of corpus size."""
    p = plan_of(spark, "doc_token_cms_accuracy_audit")
    assert "partial_count" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_bloom_index_probe_broadcasts_stored_bits(spark):
    """The materialized-filter probe must broadcast the stored bits and
    never shuffle or nested-loop the batch side."""
    p = plan_of(spark, "doc_bloom_index_probe")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_macd_kernel_is_one_group_exchange(spark):
    """candle_macd: the recursion reads the MATERIALIZED candle table,
    groups once by symbol into the Arrow kernel — no extra shuffles,
    no JVM window stage (the recursion is the kernel's job)."""
    p = plan_of(spark, "candle_macd")
    assert "FlatMapGroupsInPandas" in p
    assert p.count("Exchange") == 1
    assert "Window" not in p


def test_bm25_postings_stay_hash_joined_and_pruned(spark):
    """doc_bm25_search: the postings join against the tiny idf table
    must be a broadcast hash join (never sort-merge on exploded
    tokens), and the documents scan must prune to (doc_id, text)."""
    p = plan_of(spark, "doc_bm25_search")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"doc_id", "text"}, cols


def test_trend_ols_partial_aggregates(spark):
    """candle_trend_ols: the five sufficient statistics must combine
    map-side (partial aggregation) — a regression that shipped raw
    (x, y) points through the shuffle would defeat the one-pass
    design."""
    p = plan_of(spark, "candle_trend_ols")
    assert "partial" in p.lower()
    assert "CartesianProduct" not in p


def test_seasonality_is_two_bounded_aggregates(spark):
    """tick_hourly_seasonality: hour buckets partial-aggregate map-side
    and the per-symbol totals come back via broadcast join."""
    p = plan_of(spark, "tick_hourly_seasonality")
    assert "partial" in p.lower()
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_transition_matrix_single_window_shuffle(spark):
    """user_event_transition_matrix: one user-partitioned window pass,
    then bounded aggregates; the totals come back broadcast."""
    p = plan_of(spark, "user_event_transition_matrix")
    assert "Window" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_rate_spikes_preaggregate_before_window(spark):
    """event_rate_spikes: events must collapse to per-minute counts
    (partial agg) BEFORE the trailing window — the window input is
    calendar-bounded, never raw events."""
    p = plan_of(spark, "event_rate_spikes")
    assert "partial" in p.lower()
    assert "Window" in p


def test_binary_quant_is_scan_local(spark):
    """emb_binary_quantization_recall_audit: packing + hamming are
    row-local over one scan; the only join is the broadcast 1-row
    summary (no shuffle join, no cartesian)."""
    p = plan_of(spark, "emb_binary_quantization_recall_audit")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_grouping_sets_family_single_expand_single_agg_exchange(spark):
    """ROLLUP/CUBE/GROUPING SETS compile to ONE Expand + ONE hash
    aggregate (map-side partial before the exchange) — never one job per
    grouping set. The Expand must sit below the exchange so the shuffle
    carries |groups| x |sets| partials, not row replicas."""
    for name in (
        "order_priority_status_cube",
        "lineitem_grouping_sets_pricing",
    ):
        p = plan_of(spark, name)
        assert p.count("Expand") == 1, name
        assert p.count("Exchange") == 1, name
        assert "partial" in p.lower(), name


def test_rollup_join_dims_broadcast(spark):
    p = plan_of(spark, "revenue_rollup_region_nation")
    assert p.count("Expand") == 1
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_triangular_cycle_shares_dev_and_broadcasts_medians(spark):
    """arb_triangular_cycle_1h: the candle-sized dev frame materializes
    ONCE (shared -> ExistingRDD leaf) so the median branch and the
    output join never re-aggregate the tick table, and the per-venue
    medians come back via broadcast — no sort-merge join, no cartesian,
    no tick shuffled twice."""
    p = plan_of(spark, "arb_triangular_cycle_1h")
    assert "ExistingRDD" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "Cartesian" not in p


def test_candle_range_rolling_plans_stay_chunk_parallel(spark):
    """Donchian/stochastic ride chunked_range_rolling: the window
    partitions by (symbol, hour-bucket) — never a bare 3-key symbol
    partition that caps parallelism forever — and the whole plan is two
    exchanges (rolling shuffle + final per-symbol aggregate)."""
    for name in ("candle_donchian_touches", "candle_stochastic_k"):
        p = plan_of(spark, name)
        assert p.count("Exchange") <= 2, name
        assert "__b" in p, name  # the chunk bucket is in the window key
        assert "Cartesian" not in p, name


def test_pagerank_iterations_truncate_lineage(spark):
    """part_copurchase_pagerank: the final ranks checkpoint eagerly
    (r12: iterations in between stay one linear pipelined action), so
    the FINAL plan is a top-k over one ExistingRDD leaf — were lineage
    kept past the loop, the top-k would re-derive all 10 iterations and
    the edge self-join on every action referencing it."""
    p = plan_of(spark, "part_copurchase_pagerank")
    assert "ExistingRDD" in p
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p and "Exchange" not in p


def test_iterative_plans_use_reliable_checkpoint_when_configured(spark):
    """With a checkpoint dir configured, `shared(reliable=True)` writes
    a RELIABLE checkpoint (survives executor loss — localCheckpoint
    blocks die with their executor mid-PageRank on a real cluster) and
    PageRank/LPA still produce identical results. Without a dir, the
    executor-pinned local form is kept (single-JVM loss means process
    death anyway)."""
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.operators.partitioning import (
        shared,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans import (
        registry,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.session import (
        scratch_dir,
    )

    import os

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # test-session default
    local = shared(spark.range(10), reliable=True)  # no dir -> local
    # (df.rdd re-wraps for Python, so isLocallyCheckpointed() is not
    # visible on it — the materialized ExistingRDD leaf is the signal)
    assert "ExistingRDD" in local._jdf.queryExecution().executedPlan().toString()

    pr = registry.get("part_copurchase_pagerank").fn
    lpa = registry.get("part_copurchase_communities_lpa").fn
    before_pr = sorted(map(tuple, pr(spark, SF_SMOKE).collect()))
    before_lpa = sorted(map(tuple, lpa(spark, SF_SMOKE).collect()))

    # lives exactly as long as the session that checkpoints into it
    # (pytest's tmp_path could be reclaimed while the session runs)
    ckpt = scratch_dir(spark, "cp_reliable_ckpt_")
    sc.setCheckpointDir(ckpt)
    rel = shared(spark.range(10), reliable=True)
    assert "ExistingRDD" in rel._jdf.queryExecution().executedPlan().toString()
    # the reliable form wrote RDD blocks into the configured dir
    walked = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert walked, "no reliable-checkpoint files written"
    assert sorted(map(tuple, pr(spark, SF_SMOKE).collect())) == before_pr
    assert sorted(map(tuple, lpa(spark, SF_SMOKE).collect())) == before_lpa


def test_pagerank_contribs_cover_all_nodes(spark):
    """The co-purchase graph is SYMMETRIC (_copurchase_pairs emits both
    directions of every pair), so distinct src == distinct dst and every
    node receives a contribution row each PageRank iteration. This is
    the structural precondition for the r12 iteration shape, which damps
    `contribs` directly instead of re-joining `nodes` per iteration (the
    dropped left join could never miss); result equality itself is
    pinned by the oracle suite's left-join SQL twin."""
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans.graph import (
        _baskets,
        _copurchase_pairs,
    )
    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.testdata import (
        load_table,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    pairs = _copurchase_pairs(_baskets(li), ordered=False)
    srcs = {r.u for r in pairs.select("u").distinct().collect()}
    dsts = {r.v for r in pairs.select("v").distinct().collect()}
    assert srcs and srcs == dsts


def test_pagerank_edge_derivation_shape(spark):
    """One iteration's un-truncated plan: the edge self-join is an
    equi-join on l_orderkey (shuffle hash/sort-merge, NEVER cartesian —
    the <> on partkey must stay a residual condition), and the
    node-count scalar joins back broadcast."""
    from pyspark.sql import functions as F

    from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.sources.testdata import (
        load_table,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    ppo = li.distinct()
    a, b = ppo.alias("a"), ppo.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    p = edges._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "l_orderkey" in p


def test_triangles_no_cartesian_and_semi_closure(spark):
    """part_copurchase_triangles: the wedge join and the closing-edge
    check are equi-joins (u-key, (a,b)-key); a cartesian or nested-loop
    anywhere means the degree orientation was lost."""
    p = plan_of(spark, "part_copurchase_triangles")
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p


def test_hedge_beta_single_aggregate_after_alignment_join(spark):
    """symbol_pair_hedge_beta: one time-alignment equi-join, then ONE
    aggregation pass over the five sufficient statistics — never a
    per-point residual pass; no cartesian."""
    p = plan_of(spark, "symbol_pair_hedge_beta")
    assert "CartesianProduct" not in p
    assert "partial" in p.lower()


def test_benford_is_one_groupby_with_broadcast_total(spark):
    """tick_price_benford_audit: digit extraction is row-local, the
    digit histogram is one partial-agg shuffle, and the grand total
    joins back broadcast — never a second scan of the ticks."""
    p = plan_of(spark, "tick_price_benford_audit")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "partial" in p.lower()


def test_gini_windows_run_over_histogram_not_rows(spark):
    """tick_volume_gini: the cumulative windows must consume the
    (symbol, size, count) HISTOGRAM — i.e. an aggregate sits below the
    Window — never the raw ticks."""
    p = plan_of(spark, "tick_volume_gini")
    assert "Window" in p
    # histogram aggregate (partial + final) below the window
    head, _, _tail = p.partition("Window")
    assert "partial_count" in p or "partial" in p.lower()
    assert _tail.count("HashAggregate") >= 1


def test_quoted_spread_is_single_shuffle_with_pushed_gate(spark):
    # quote synthesis is narrow codegen; the only exchange is the
    # (symbol, minute) aggregation, partials map-side; the ticker-type
    # gate reaches the parquet scan
    p = plan_of(spark, "tick_quoted_spread_1m")
    assert shuffle_count(p) == 1, p
    assert "partial" in p.lower()
    assert "In(event_type" in p


def test_effective_spread_is_single_shuffle(spark):
    p = plan_of(spark, "tick_effective_spread_by_side")
    assert shuffle_count(p) == 1, p
    assert "partial" in p.lower()


def test_quote_imbalance_is_single_shuffle(spark):
    p = plan_of(spark, "tick_quote_imbalance_1h")
    assert shuffle_count(p) == 1, p
    assert "partial" in p.lower()


def test_nbbo_reduction_ladder_stays_map_side(spark):
    # ticks -> (symbol, venue, minute) -> (symbol, minute) -> symbol:
    # three progressively SMALLER aggregations, each map-side combinable;
    # no extra exchanges beyond the ladder
    p = plan_of(spark, "tick_nbbo_crossed_markets")
    assert shuffle_count(p) <= 3, p
    assert "partial" in p.lower()


def test_microprice_drift_has_no_degenerate_window(spark):
    # the minute-level lag is chunk-decomposed (symbol x day): every
    # window partitions on (symbol, chunk) or the keys x chunks summary,
    # never an empty partition spec that funnels rows to one task
    p = plan_of(spark, "tick_microprice_drift")
    assert not re.search(r"windowspecdefinition\((?:last_|mm|w)#", p), (
        "window without key partitioning found"
    )
    assert "Window" in p


def test_roll_kyle_lee_ready_have_no_degenerate_windows(spark):
    # every sequential pass in the round-11 microstructure additions is
    # chunk-decomposed (symbol x day) or partitioned by (symbol, day):
    # no window may funnel a whole key's history to one task via an
    # empty/key-only-free partition spec
    import re as _re

    for q in (
        "tick_roll_spread_estimate",
        "tick_kyle_lambda",
        "tick_lee_ready_classification",
        "candle_realized_variance_jumps",
    ):
        p = plan_of(spark, q)
        specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", p)
        assert specs, q
        for spec in specs:
            # first two args must be partition keys (symbol + chunk/day)
            head = spec.split(" ASC")[0].split(" DESC")[0]
            assert head.count("#") >= 2, (q, spec)


def test_order_flow_imbalance_has_no_degenerate_window(spark):
    import re as _re

    p = plan_of(spark, "tick_order_flow_imbalance")
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs
    for spec in specs:
        head = spec.split(" ASC")[0].split(" DESC")[0]
        assert head.count("#") >= 2, spec


def test_image_near_dups_band_join_never_cartesian(spark):
    # the pair generation is an equi-join on (band, band_val) — a
    # cartesian/nested-loop here would be pixels-squared at scale
    p = plan_of(spark, "multimodal_image_near_dups")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_hayashi_yoshida_overlap_join_never_cartesian(spark):
    # the HY interval-overlap pairing is a time-bucket EQUI-join with
    # range residuals — a cartesian/nested-loop there would be the tape
    # cross product; the tiny per-symbol vars frame must broadcast. The
    # ONLY nested-loop joins allowed are the 1-row adaptive-width
    # scalar broadcasts (BuildRight, Cross).
    p = plan_of(spark, "tick_hayashi_yoshida_covariance")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" in p
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight, Cross" in line, line


def test_video_near_dups_band_join_never_cartesian(spark):
    # video fingerprints ride the shared dedup-first banded-Hamming
    # operator: pair generation stays an equi-join on (band, band_val)
    p = plan_of(spark, "multimodal_video_near_dups")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_arb_executable_pnl_net_has_no_join(spark):
    # three map-side-combinable aggregations, no joins (the gross twin's
    # contract): a join appearing here means the pivot regressed
    p = plan_of(spark, "arb_executable_pnl_net_1m")
    assert "Join" not in p
    assert "HashAggregate" in p or "SortAggregate" in p or "ObjectHashAggregate" in p


def test_epps_curve_join_bounded(spark):
    # the pair join stays a (dt_s, bucket) equi-join — never cartesian.
    # (The bucket lag rides chunked_lag upstream of the shared()
    # checkpoint, so its window specs are not visible in this executed
    # plan; the chunked form is pinned by the operator's own tests.)
    p = plan_of(spark, "symbol_epps_effect_curve")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_lead_lag_hy_join_never_cartesian(spark):
    # shifted-interval pairing stays the bucket equi-join; only the
    # 1-row width-scalar broadcasts may appear as nested-loop crosses
    p = plan_of(spark, "tick_lead_lag_hy")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight, Cross" in line, line


def test_venue_lead_lag_hy_join_never_cartesian(spark):
    p = plan_of(spark, "tick_venue_lead_lag_hy")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight, Cross" in line, line
