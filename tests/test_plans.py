"""Physical-plan regression guards: the scale properties PERF.md claims
must stay true — pushdown reaching the scan, dimension joins broadcasting,
top-k compiling to TakeOrderedAndProject, semi/anti joins for
exists-filters. A refactor that silently loses one of these fails here,
not at 100 TB."""

from __future__ import annotations

import contextlib
import io

import pytest

from scalligraph_spark.suite import SUITE
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = SUITE[name].spark(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    p = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: the scan schema must NOT include unreferenced columns
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read and "l_orderkey" not in read


def test_dimension_hops_broadcast(spark):
    p = _plan(spark, "hop_two_chain")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # both dims must broadcast, never shuffle


def test_q5_star_join_broadcasts_dims(spark):
    p = _plan(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in p


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in _plan(spark, "filter_semi_join")
    assert "LeftAnti" in _plan(spark, "filter_anti_join")


def test_top_k_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "top_k")


def test_unique_enforce_anti_joins(spark):
    assert _plan(spark, "unique_enforce").count("LeftAnti") >= 1


def test_scan_filter_pushdown_on_predicates(spark):
    p = _plan(spark, "has_eq")
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_no_cartesian_products_in_window(spark):
    """No window query may hide an accidental cross join (the intentional
    broadcast-1-row cross joins in count_steps/scalar_aggs excepted)."""
    for name in list(SUITE)[:50]:
        if name in ("count_steps", "scalar_aggs", "select_keys_values", "qlang_sort_page", "page_with_total"):
            continue  # deliberate broadcast scalar/cross shapes
        if SUITE[name].sql is None:
            continue  # hash-derived ops carry persisted stages; plans audited in PERF.md
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name


def test_embedding_cosine_exact_stays_jvm_side(spark):
    """The exact all-pairs path must be pure codegen: no Python evaluation
    (no interpreted HOF lambdas, no Pandas UDF) anywhere in the plan, and
    the pair dot products must partial-aggregate before the shuffle."""
    p = _plan(spark, "dedup_embedding_cosine")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # partial agg before the exchange, final after (map-side combine)
    assert p.count("HashAggregate") >= 2 and "Exchange" in p


def test_embedding_cosine_lsh_narrow_candidate_join(spark):
    """The LSH path ships only (id, table, bucket) through the candidate
    self-join — the wide embedding arrays join back by id afterwards."""
    p = _plan(spark, "dedup_embedding_cosine_lsh")
    assert "ArrowEvalPython" in p  # the vectorized bucket-signature UDF
    join_section = p.split("SortMergeJoin")[0] if "SortMergeJoin" in p else p
    assert "embedding" not in join_section.split("Scan parquet")[0]


def test_asof_join_is_window_not_join(spark):
    """The plain as-of join must compile to a union + window — NO join
    operator at all (Spark's own inequality-join fallback is a nested
    loop)."""
    p = _plan(spark, "temporal_asof_join")
    assert "Window" in p
    assert "Join" not in p


def test_range_join_is_equi_join(spark):
    """The bucketed range rewrite must give Catalyst an equi-join — never
    a cartesian/broadcast-nested-loop theta join."""
    p = _plan(spark, "temporal_range_join")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_asof_bucketed_no_nested_loop(spark):
    p = _plan(spark, "temporal_asof_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Window" in p


def test_q6_all_filters_pushed(spark):
    """Q6 is the pushdown litmus: every predicate must reach the scan and
    the schema must prune to the 4 referenced columns."""
    p = _plan(spark, "q6_forecast_revenue")
    assert "PushedFilters" in p and "l_shipdate" in p and "l_discount" in p and "l_quantity" in p
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_returnflag" not in read and "l_orderkey" not in read


def test_q4_exists_is_semi_join(spark):
    p = _plan(spark, "q4_priority_semi")
    assert "LeftSemi" in p


def test_q10_top20_take_ordered_broadcast_nation(spark):
    p = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in p and "BroadcastHashJoin" in p


def test_q19_no_cartesian(spark):
    """The OR-of-ANDs must stay a residual on the partkey equi-join."""
    p = _plan(spark, "q19_discounted_revenue")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_bucket_salt_merge_is_broadcast(spark):
    """The hot-bucket salt merge must broadcast the oversized-buckets table
    (empty on healthy corpora) — the banded relation is never reshuffled."""
    p = _plan(spark, "dedup_minhash_lsh")
    assert "BroadcastHashJoin" in p


def test_q2_window_rank_not_per_row_subquery(spark):
    """The correlated max-acctbal subquery must compile to ONE window rank
    over the pair set, with part and supplier broadcast — no re-scan of
    supplier per part row and no cartesian fallback."""
    p = _plan(spark, "q2_min_cost_supplier")
    assert "row_number" in p.lower()
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q8_seven_table_star_all_dims_broadcast(spark):
    """Every dimension of the Q8 star (part, supplier, both nation roles,
    region) broadcasts: the only SortMergeJoins allowed are the two
    fact-fact joins (lineitem-orders, orders-customer)."""
    p = _plan(spark, "q8_market_share")
    assert p.count("BroadcastHashJoin") >= 5
    assert p.count("SortMergeJoin") <= 2


def test_q13_left_outer_preserved(spark):
    """The status filter must ride the join condition, not a pre-filter that
    would drop order-less customers from the distribution."""
    p = _plan(spark, "q13_customer_distribution")
    assert "LeftOuter" in p


def test_q15_scalar_max_is_broadcast_join(spark):
    p = _plan(spark, "q15_top_supplier")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q16_not_in_is_anti_join(spark):
    p = _plan(spark, "q16_supplier_part_counts")
    assert "LeftAnti" in p


def test_q21_exists_pair_semi_then_anti(spark):
    """EXISTS -> LeftSemi and NOT EXISTS (with shipdate inequality residual)
    -> LeftAnti, both keyed on the order-key equi-condition so neither
    degrades to a nested loop."""
    p = _plan(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q22_anti_join_date_filter_pushed(spark):
    p = _plan(spark, "q22_idle_customers")
    assert "LeftAnti" in p
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p


def test_q11_fraction_is_broadcast_single_row(spark):
    p = _plan(spark, "q11_important_stock")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p  # 1-row total join
    assert "CartesianProduct" not in p


def test_q20_nested_in_chain_is_semi_joins(spark):
    p = _plan(spark, "q20_excess_shippers")
    assert p.count("LeftSemi") >= 2
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_graph_triangles_all_joins_hashed(spark):
    """Wedge build and closure are equi-joins — no cartesian fallback even
    though the logical shape is a double self-join."""
    p = _plan(spark, "graph_triangles")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_duplicate_spans_all_joins_hashed(spark):
    """The span-dedup semi-join and coverage join-back must stay hash
    equi-joins on (g) / (id, pos) — never a nested loop, and the gram
    group-by must be an aggregate (no self-join that a hot boilerplate
    gram could turn quadratic)."""
    for name in ("text_duplicate_spans", "text_remove_spans"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
        assert "HashJoin" in p and "HashAggregate" in p


def test_scd2_single_exchange(spark):
    """All four window passes (change flag, run number, collapse,
    valid_to lookahead) must share ONE hash exchange on the dimension
    key — the exchange-reuse property the operator's docstring claims."""
    p = _plan(spark, "temporal_scd2_history")
    import re

    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1
    assert "CartesianProduct" not in p


def test_grouped_topk_window_group_limit(spark):
    """Per-group top-k must compile with WindowGroupLimit (only k rows per
    group survive into the sort/exchange) — the property that makes the
    shape viable at 100 TB."""
    p = _plan(spark, "orders_topk_per_customer")
    assert "WindowGroupLimit" in p


def test_bm25_no_explode_broadcast_stats(spark):
    """BM25: per-term tf must stay row-local (no Generate/explode of a
    (doc, term) stream) and the corpus-stats join must broadcast."""
    p = _plan(spark, "text_bm25_search")
    assert "Generate" not in p  # no explode anywhere
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_jaccard_prefix_join_hashed(spark):
    """Prefix join: candidate + verify joins must be hash joins (equi keys
    reached the planner), never a nested loop / cartesian product."""
    p = _plan(spark, "dedup_jaccard_prefix_join")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_rolling_features_single_exchange(spark):
    """Both rolling features (count, decimal mean) must share ONE window
    exchange on the user key."""
    import re

    p = _plan(spark, "events_rolling_features")
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1
    assert "CartesianProduct" not in p


def test_bloom_join_materializes_words_once(spark):
    """The k Bloom probes must read the word table from cache, not
    recompute the build aggregation k times (k scans of the build side)."""
    p = _plan(spark, "join_bloom_prefiltered")
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p
    assert "CartesianProduct" not in p


def test_key_skew_take_ordered_no_full_sort(spark):
    """Skew profiler: top-k via TakeOrderedAndProject; the only join is the
    broadcast 1-row totals (a broadcast NLJ on one row is the correct
    scalar-join plan, not a red flag)."""
    p = _plan(spark, "diag_key_skew")
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_negative_pairs_broadcast_pool(spark):
    """Negative sampling: pool candidates come from TakeOrdered (no global
    sort of the corpus) and the draw join broadcasts the pool."""
    p = _plan(spark, "pipeline_negative_pairs")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_quantile_buckets_approx_no_global_sort(spark):
    """Approx quantile bucketing must be map-only after one sketch agg —
    no Sort, no shuffle of the data rows."""
    from scalligraph_spark.operators import quantile_buckets
    from scalligraph_spark.suite import cat_for

    docs = cat_for(spark, SF_DIR).vertex_df("documents").select("doc_id", "n_chars")
    df = quantile_buckets(docs, "n_chars", n_buckets=4, exact=False)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Sort " not in p and "TakeOrdered" not in p


def test_stats_single_aggregate_pass(spark):
    """Column stats: one aggregate over one scan — no joins, no unions of
    per-column jobs."""
    p = _plan(spark, "stats_analyze_columns")
    assert "Join" not in p.replace("JoinSelection", "")


def test_upsert_anti_join_shape(spark):
    p = _plan(spark, "writes_upsert_merge")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_stats_fed_hop_auto_broadcast(spark, tmp_path):
    """A persisted ANALYZE stat alone flips a hop join to
    BroadcastHashJoin — no hand-placed F.broadcast, no Spark byte-estimate
    (disabled via autoBroadcastJoinThreshold=-1 for the duration):
    the store-backed dimension label proves itself small through the
    stats tier, exactly the reference's declared-index-hint discipline
    applied to join planning."""
    import contextlib
    import io

    from scalligraph_spark.catalog import EdgeSpec, GraphCatalog, VertexSpec
    from scalligraph_spark.stats import analyze
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "hintstore"))
    dim = spark.createDataFrame([(i, f"d{i}") for i in range(20)], "d_id long, d_name string")
    store.write("dim", dim)
    fact = spark.createDataFrame([(i, i % 20) for i in range(500)], "f_id long, d_id long")
    store.write("fact", fact)

    def build_cat():
        cat = GraphCatalog(spark)
        cat.add_store_vertex(store, "fact", "f_id")
        cat.add_store_vertex(store, "dim", "d_id")
        cat.add_edge(
            EdgeSpec(
                label="has_dim", src_label="fact", dst_label="dim",
                loader=lambda: store.read(spark, "fact"),
                src_key="f_id", dst_key="d_id",
                src_join_col="f_id", dst_join_col="d_id",
                kind="fk", fk_holder="src",
            )
        )
        return cat

    def hop_plan(cat):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cat.V("fact").out("has_dim").df.explain("formatted")
        return buf.getvalue()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # no stats: Spark cannot prove either side small -> no broadcast
        assert "BroadcastHashJoin" not in hop_plan(build_cat())
        # ANALYZE the dimension, feed the catalog: broadcast chosen
        analyze(spark, store, "dim")
        cat = build_cat().attach_stats(store)
        assert cat.vertices["dim"].n_rows_hint == 20
        assert "BroadcastHashJoin" in hop_plan(cat)
        # results identical with and without the hint
        a = sorted(map(tuple, build_cat().V("fact").out("has_dim").df.collect()))
        b = sorted(map(tuple, cat.V("fact").out("has_dim").df.collect()))
        assert a == b
        # a BIG stat must NOT force a broadcast
        cat2 = build_cat()
        cat2.set_row_hint("dim", 10_000_000)
        assert "BroadcastHashJoin" not in hop_plan(cat2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_hop_broadcast_gated_on_bytes_and_staleness(spark, tmp_path):
    """Byte-aware broadcast gating + stat staleness: a row count under
    the threshold must NOT force a broadcast when the stats prove the
    table wide (rows x width = executors x OOM at scale), and hints must
    CLEAR when the store advances past the analyzed version."""
    import contextlib
    import io

    from scalligraph_spark.catalog import EdgeSpec, GraphCatalog
    from scalligraph_spark.stats import analyze
    from scalligraph_spark.store import LabelStore

    store = LabelStore(str(tmp_path / "bytestore"))
    wide = spark.createDataFrame(
        [(i, "x" * 2000) for i in range(50)], "d_id long, d_comment string"
    )
    store.write("dim", wide)
    fact = spark.createDataFrame([(i, i % 50) for i in range(500)], "f_id long, d_id long")
    store.write("fact", fact)

    def build_cat():
        cat = GraphCatalog(spark)
        cat.add_store_vertex(store, "fact", "f_id")
        cat.add_store_vertex(store, "dim", "d_id")
        cat.add_edge(
            EdgeSpec(
                label="has_dim", src_label="fact", dst_label="dim",
                loader=lambda: store.read(spark, "fact"),
                src_key="f_id", dst_key="d_id",
                src_join_col="f_id", dst_join_col="d_id",
                kind="fk", fk_holder="src",
            )
        )
        return cat

    def hop_plan(cat):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cat.V("fact").out("has_dim").df.explain("formatted")
        return buf.getvalue()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        stats = analyze(spark, store, "dim")
        assert stats["n_bytes"] > 0  # ANALYZE records on-disk data bytes
        cat = build_cat().attach_stats(store)
        assert cat.vertices["dim"].n_rows_hint == 50
        assert cat.vertices["dim"].n_bytes_hint == stats["n_bytes"]
        # 50 rows passes the row gate; broadcast because bytes are tiny too
        assert "BroadcastHashJoin" in hop_plan(cat)
        # shrink the byte threshold below the table size: row gate passes,
        # byte gate refuses
        cat.auto_broadcast_bytes = 1024
        assert "BroadcastHashJoin" not in hop_plan(cat)
        # schema-width fallback (stat without n_bytes, e.g. pre-upgrade):
        cat3 = build_cat().attach_stats(store)
        cat3.vertices["dim"].n_bytes_hint = None
        assert cat3._est_broadcast_bytes("dim", store.read(spark, "dim"), 50) == 50 * 40
        # staleness: the store advances -> current version has no stats ->
        # attach_stats clears the hints instead of keeping version-1 numbers
        store.write("dim", wide.limit(10))
        cat4 = build_cat().attach_stats(store)
        assert cat4.vertices["dim"].n_rows_hint is None
        assert cat4.vertices["dim"].n_bytes_hint is None
        assert "BroadcastHashJoin" not in hop_plan(cat4)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_attach_parquet_stats_handles_file_and_directory(spark, tmp_path):
    """Footer stats must read BOTH layouts: a single .parquet file (the
    testdata shape) and a Spark-written directory of part files (any
    scaled/production shape) — the scale bench broke on the latter."""
    from scalligraph_spark.catalog import GraphCatalog, VertexSpec

    ddir = str(tmp_path / "t.parquet")
    spark.createDataFrame([(i,) for i in range(100)], "k long").repartition(3).write.parquet(ddir)
    cat = GraphCatalog(spark)
    cat.add_vertex(VertexSpec("t", "k", lambda: spark.read.parquet(ddir)))
    cat.attach_parquet_stats(str(tmp_path))
    assert cat.vertices["t"].n_rows_hint == 100
    assert cat.vertices["t"].n_bytes_hint > 0


def test_attach_stats_preserves_footer_hints_for_non_store_labels(spark, tmp_path):
    """attach_stats' staleness-clear must only touch labels the store
    actually tracks: a plain-parquet label just hinted by
    attach_parquet_stats keeps its footer hints when attach_stats runs
    afterwards (the tpch_catalog + store mixed-catalog shape)."""
    from scalligraph_spark.catalog import GraphCatalog, VertexSpec
    from scalligraph_spark.stats import analyze
    from scalligraph_spark.store import LabelStore

    ddir = str(tmp_path / "plain.parquet")
    spark.createDataFrame([(i,) for i in range(100)], "k long").write.parquet(ddir)
    store = LabelStore(str(tmp_path / "s"))
    store.write("stored", spark.createDataFrame([(1,)], "k long"))
    analyze(spark, store, "stored")

    cat = GraphCatalog(spark)
    cat.add_vertex(VertexSpec("plain", "k", lambda: spark.read.parquet(ddir)))
    cat.add_store_vertex(store, "stored", "k")
    cat.attach_parquet_stats(str(tmp_path))
    assert cat.vertices["plain"].n_rows_hint == 100
    cat.attach_stats(store)  # must not clear the footer hints above
    assert cat.vertices["plain"].n_rows_hint == 100
    assert cat.vertices["plain"].n_bytes_hint > 0
    assert cat.vertices["stored"].n_rows_hint == 1
    # stored label staleness-clear still applies
    store.write("stored", spark.createDataFrame([(1,), (2,)], "k long"))
    cat.attach_stats(store)
    assert cat.vertices["stored"].n_rows_hint is None
    assert cat.vertices["plain"].n_rows_hint == 100  # still untouched


def test_aqe_runtime_partition_coalescing_engages(spark):
    """Runtime (not just conf) proof of the AQE posture: after execution,
    the adaptive plan shows AQEShuffleRead coalescing the configured
    shuffle partitions down to what the data actually needs — the
    mechanism that replaces hand-tuned spark.sql.shuffle.partitions when
    the same query runs at 100 TB."""
    df = spark.createDataFrame([(i % 7, i) for i in range(1000)], "k long, v long")
    agg = df.groupBy("k").sum("v")
    agg.collect()  # materialize so AQE finalizes the plan
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_grouping_sets_single_expand_pass(spark):
    """qagg_grouping_sets' one-pass claim: the plan is ONE Expand feeding
    hash aggregates — not a union of per-set scans."""
    from scalligraph_spark.suite import SUITE

    df = SUITE["qagg_grouping_sets"].spark(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1
    assert "Union" not in plan  # not compiled as N scans unioned
    # one logical aggregation pass: partial+final pair over the Expand
    assert "HashAggregate" in plan


def test_tombstone_read_is_broadcast_anti_join(spark):
    """Tombstoned index reads: the sidecar is churn-sized, so hiding the
    dead keys must be a BROADCAST anti-join against every part — the base
    entries never shuffle for it."""
    p = _plan(spark, "value_index_catchup_tombstone")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    # no shuffle introduced by the tombstone filter itself: the entries
    # side of the anti-join must not hash-exchange
    assert "SortMergeJoin" not in p


def test_strict_hot_funnel_single_user_exchange(spark):
    """20x interloper load: the lead() stack and the best-anchor pick must
    STILL share one user-key exchange (the one-exchange claim, load-tested),
    and the inflation is explode(sequence) — no nested-loop join."""
    import re

    p = _plan(spark, "events_window_funnel_strict_hot")
    exchanges = re.findall(r"\(\d+\) Exchange", p)
    assert len(exchanges) == 1, exchanges
    assert "hashpartitioning(user_id" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "explode" in p and "WindowGroupLimit" in p


@pytest.mark.parametrize(
    "entry, scans, exchanges", [("store_join_refresh", 18, 9), ("store_mv_refresh", 7, 6)]
)
def test_incremental_refresh_plan_size(spark, entry, scans, exchanges):
    """Refreshing a view from the change images may not plan more parquet
    scans or shuffle exchanges than the semi-join image recovery it
    replaced (the bounds are that plan's counts at this scale factor):
    filtering one tagged feed per image re-runs both sides of the diff."""
    import re

    tree = _plan(spark, entry).split("\n\n(1)")[0]
    assert 0 < tree.count("Scan parquet") <= scans
    assert 0 < len(re.findall(r"\bExchange\b", tree)) <= exchanges
