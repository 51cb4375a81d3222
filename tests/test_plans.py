"""Physical-plan regression tests: the plan shapes that make the
engine scale must survive refactors.

These assert the properties the 100 TB design depends on (SURVEY
section 4): column pruning, predicate pushdown to the parquet scan,
top-k as TakeOrderedAndProject (never a global sort), broadcast
dimension joins, partition pruning on the archive table.
"""

import pytest

from go_triton_spark.operators import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (REGISTRY[name].spark(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())


def test_q6_pushdown_and_pruning(spark):
    plan = _plan(spark, "q6_revenue_forecast")
    # only the 4 needed columns reach the scan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_quantity" in scan and "l_extendedprice" in scan
    assert "l_orderkey" not in scan, "column pruning failed"
    # all predicates pushed to the scan
    assert "l_shipdate" in scan and "l_discount" in scan


def test_q1_column_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    for needed in ("l_returnflag", "l_linestatus", "l_quantity"):
        assert needed in scan
    assert "l_partkey" not in scan and "l_suppkey" not in scan


def test_topk_is_take_ordered_not_global_sort(spark):
    for name in ("sort_limit", "q3_shipping_priority"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: no TakeOrderedAndProject"


def test_dimension_joins_broadcast(spark):
    for name in ("q3_shipping_priority", "q5_nation_revenue", "join_inner"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dimension join not broadcast"


def test_prefix_filter_pushed(spark):
    plan = _plan(spark, "s13_prefix_filter")
    assert "StartsWith" in plan


def test_window_topk_single_shuffle(spark):
    # top-k per group: exactly one exchange (on the partition key)
    plan = _plan(spark, "window_row_number")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l and "Reused" not in l]
    assert len(exchanges) == 1, f"expected 1 shuffle, saw {len(exchanges)}"


def test_agg_has_partial_phase(spark):
    # map-side combine before the shuffle
    plan = _plan(spark, "agg_basic")
    assert "partial_count" in plan or "partial" in plan.lower()


def test_tpch_dimension_joins_broadcast(spark):
    # every adapted TPC-H query that joins a dimension must broadcast it
    for name in ("q7_nation_trade_volume", "q8_market_share",
                 "q9_product_profit", "q10_returned_items",
                 "q19_discounted_revenue", "q22_idle_customers"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dimension join not broadcast"


def test_q21_aggregate_rewrite_shape(spark):
    # q21 is rewritten from EXISTS/NOT-EXISTS self-joins (3 lineitem
    # scans, per-order pairwise checks) to per-(order, supplier) max
    # statistics: the plan must contain the combinable two-level
    # aggregate and must NOT regress to semi/anti self-joins or a
    # row-exploding pair join
    plan = _plan(spark, "q21_waiting_supplier")
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, \
        "q21 regressed to the 3-scan EXISTS form"
    assert plan.count("Scan parquet") <= 4, "extra lineitem scans"
    assert "collect_list" in plan, "per-order top-2 aggregate missing"


def test_q20_having_semi_join(spark):
    plan = _plan(spark, "q20_heavy_part_suppliers")
    assert "LeftSemi" in plan


def test_tpch_topk_take_ordered(spark):
    for name in ("q10_returned_items", "q2_min_unit_price_supplier"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: top-k is a global sort"


def test_no_cartesian_products(spark):
    # only intentional 1-row scalar-threshold cross joins are allowed;
    # they must be BroadcastNestedLoopJoin over a 1-row side, never
    # CartesianProduct (which shuffles both sides)
    for name in ("q11_nation_supplier_value", "q15_top_supplier",
                 "q17_small_quantity_revenue", "q22_idle_customers"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, f"{name}: CartesianProduct"


def test_gapfill_single_window_scan(spark):
    plan = _plan(spark, "ts_gapfill_ffill")
    assert plan.count("Window") <= 2, "gap-fill: more than one window pass"


def test_gapfill_per_user_grid_no_cross_join(spark):
    # the hour grid must come from a per-user sequence() explode, never
    # a global hours x all-users cross join (which broadcasts an
    # unbounded distinct-user set and densifies sparse users)
    plan = _plan(spark, "ts_gapfill_ffill")
    assert "BroadcastNestedLoopJoin" not in plan, \
        "gap-fill regressed to the dense hours x users cross join"
    assert "CartesianProduct" not in plan


def test_perplexity_no_vocab_window(spark):
    # the corpus token total must be a scalar aggregate crossJoined
    # back as ONE row — a partitionBy() window would funnel the whole
    # vocabulary (10^8+ tokens at web scale) through a single task
    plan = _plan(spark, "text_perplexity_proxy")
    assert "Window" not in plan, \
        "perplexity: global window over the vocabulary is back"


def test_chunking_is_narrow(spark):
    # chunking must not shuffle: explode + project only
    plan = _plan(spark, "text_chunk")
    exchanges = [l for l in plan.splitlines() if "Exchange" in l and "Reused" not in l]
    assert not exchanges, "text_chunk introduced a shuffle"


def test_global_plan_hygiene_no_cartesian_no_row_python(spark):
    """Every registry query: no CartesianProduct (both sides shuffled
    and replicated — never acceptable), and no BatchEvalPython
    (row-at-a-time Python UDF — banned from hot paths; Python is only
    allowed behind Arrow as ArrowEvalPython / MapInPandas)."""
    failures = []
    for name, qd in REGISTRY.items():
        try:
            plan = qd.spark(spark, SF)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - surface as failure
            failures.append(f"{name}: plan build failed: {e}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
    assert not failures, "\n".join(failures)


def test_join_strategy_hints_respected(spark):
    """The join-strategy dial: MERGE and SHUFFLE_HASH hints override
    the planner's default — the manual control used when AQE's choice
    is wrong for a known workload."""
    o = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    merge = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    assert "SortMergeJoin" in merge._jdf.queryExecution().executedPlan().toString()
    shash = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    assert "ShuffledHashJoin" in shash._jdf.queryExecution().executedPlan().toString()


def test_levenshtein_block_join_shape(spark):
    """dedup_levenshtein's scale contract: the pair join is a
    ShuffledHashJoin on the block keys (the big table is NEVER
    broadcast — only the tiny per-block salt-count stats are), and the
    join width is pinned by explicit-N repartitions so AQE's byte
    heuristic cannot coalesce the levenshtein-carrying stage to one
    task (the round-2 regression)."""
    plan = _plan(spark, "dedup_levenshtein")
    assert "ShuffledHashJoin" in plan
    assert "levenshtein" in plan
    # levenshtein must be evaluated in the shuffled join's residual,
    # never inside a broadcast join (full-table broadcast regression)
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "levenshtein" not in line


def test_interval_join_is_hash_join_not_nested_loop(spark):
    plan = _plan(spark, "interval_join_sessions")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan  # equi-join on (user, bucket) with residual


def test_bucketed_interval_join_equals_naive(spark):
    """Property: bucketing + residual == naive theta join, for bucket
    widths smaller than, equal to, and larger than the interval span."""
    import datetime as dt
    from go_triton_spark.operators.interval_join import bucketed_interval_join
    base = dt.datetime(2024, 1, 1)
    pts = [(i, base + dt.timedelta(minutes=17 * i)) for i in range(60)]
    ivs = [(j, base + dt.timedelta(minutes=45 * j),
            base + dt.timedelta(minutes=45 * j + 90)) for j in range(12)]
    p = spark.createDataFrame(pts, ["pid", "pts"])
    iv = spark.createDataFrame(ivs, ["iid", "istart", "iend"])
    naive = sorted((r["pid"], r["iid"]) for r in p.join(
        iv, (p.pts >= iv.istart) & (p.pts < iv.iend)).collect())
    for bucket in (600, 5400, 86400):
        got = sorted((r["pid"], r["iid"]) for r in bucketed_interval_join(
            p, iv, "pts", "istart", "iend", bucket_seconds=bucket).collect())
        assert got == naive, f"bucket={bucket}"


def test_compact_merges_small_files(spark, sf_dir, tmp_path):
    """Three micro-batch-sized ingests -> one file per hour partition
    after compaction; rows and replay order preserved."""
    import datetime as dt
    from go_triton_spark.plans.archive_store import ArchiveStore

    store = ArchiveStore(spark, str(tmp_path / "arch"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(90)
    when = dt.datetime(2026, 8, 13, 9, 30, tzinfo=dt.timezone.utc)
    for i in range(3):
        store.ingest_dataframe(
            ev.where(f"event_id % 3 = {i}"), "events", "alpha",
            when=when + dt.timedelta(seconds=i))
    before = store.cat("events", when.date(), client="alpha")
    n_rows = before.count()
    ids_before = [r.event_id for r in before.select("event_id").collect()]

    stats = store.compact("events", when.date(), "alpha", target_file_mb=128)
    assert stats["files_before"] >= 3 and stats["files_after"] == 1

    after = store.cat("events", when.date(), client="alpha")
    assert after.count() == n_rows
    assert sorted(ids_before) == sorted(
        r.event_id for r in after.select("event_id").collect())


def test_compact_missing_partition_raises(spark, tmp_path):
    import datetime as dt
    from go_triton_spark.plans.archive_store import ArchiveStore

    store = ArchiveStore(spark, str(tmp_path / "arch"))
    with pytest.raises(FileNotFoundError):
        store.compact("events", dt.date(2026, 1, 1), "alpha")


def test_expire_drops_only_old_partitions(spark, sf_dir, tmp_path):
    import datetime as dt
    from go_triton_spark.plans.archive_store import ArchiveStore

    store = ArchiveStore(spark, str(tmp_path / "arch"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(30)
    old = dt.datetime(2026, 8, 1, 12, tzinfo=dt.timezone.utc)
    new = dt.datetime(2026, 8, 13, 12, tzinfo=dt.timezone.utc)
    store.ingest_dataframe(ev, "events", "alpha", when=old)
    store.ingest_dataframe(ev, "events", "alpha", when=new)

    stats = store.expire("events", "alpha", keep_after=dt.date(2026, 8, 10))
    assert stats == {"dropped": 1, "kept": 1}
    assert store.cat("events", new.date(), client="alpha").count() == 30
    assert store.cat("events", old.date(), client="alpha").count() == 0


def test_observe_inline_metrics(spark, sf_dir):
    """df.observe: data-quality counters collected during the query —
    no second scan over 100 TB to know what a job filtered out."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    obs = Observation("curation_metrics")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.expr("cast(n_chars < 20 AS long)")).alias("too_short"))
    kept = observed.where("n_chars >= 20")
    n_kept = kept.count()
    assert obs.get["rows_seen"] == docs.count()
    assert obs.get["rows_seen"] - obs.get["too_short"] == n_kept


def test_scaling_dims_work_without_broadcast(spark):
    """The 100 TB path of the scaling_dim policy: with broadcast joins
    disabled entirely (what AQE effectively decides when customer/
    supplier/part outgrow the threshold), the unhinted queries must
    still plan (shuffle join) and return identical rows — proving no
    hidden correctness dependence on the broadcast strategy."""
    from go_triton_spark.operators import REGISTRY

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for name in ("join_inner", "q3_shipping_priority",
                 "q9_product_profit", "q21_waiting_supplier"):
        base = sorted(map(tuple, REGISTRY[name].spark(spark, SF).collect()))
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = _plan(spark, name)
            again = sorted(map(tuple,
                               REGISTRY[name].spark(spark, SF).collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan), \
            f"{name}: expected a shuffle join with broadcasts disabled"
        assert base == again, f"{name}: rows changed with join strategy"


def test_lsh_pair_generator_single_shuffle_dedup(spark):
    """Round-5 shape contract for _capped_pairs: the pair table crosses
    ONE user-specified exchange (repartition on a_col, which both the
    dropDuplicates and the rescore joins reuse — partitioning on a
    subset of the dedup keys satisfies the aggregate), not the old
    distinct-on-(a,b) + rescore-repartition double shuffle; and there
    is no bucket self-join (grouped member lists + in-task explode)."""
    plan = _plan(spark, "knn_graph_lsh")
    # exactly one explicit-count exchange (the a_col pin; AQE cannot
    # coalesce REPARTITION_BY_NUM)
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    # the spill-safe windowed bucket cap survives (rank pushed down)
    assert "WindowGroupLimit" in plan
    # no bucket self-join: no join condition touches the (band, sig)
    # bucket keys — pairs come from in-task member-list explodes
    for line in plan.splitlines():
        if "Join" in line:
            assert "sig#" not in line and "band#" not in line, line


def test_levenshtein_single_pair_exchange_fold(spark):
    """Round-6 shape contract for dedup_levenshtein: BOTH sides of the
    blocked self-join ride ONE cached exchange (side-tagged union,
    repartitioned once on the block key, carved back out by side
    filters) instead of the old two-repartition double shuffle. The
    runtime tree-walk (caches counted once, AQE-final, reuse skipped)
    must show <= 4 real shuffle exchanges and a join fed by two scans
    of the SAME cache with no exchange in between."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from explain_audit import audit_plan

    df = REGISTRY["dedup_levenshtein"].spark(spark, SF)
    c = audit_plan(spark, df)
    assert c["ex"] <= 4, dict(c)            # was 6 before the fold
    assert c["ShuffledHashJoin"] == 1, dict(c)
    assert c["cached_scan"] == 2, dict(c)   # both join sides hit the cache
    # no exchange BETWEEN the cached scans and the join: the join's
    # immediate subtree (stringified, stopping at the cache) is
    # exchange-free because the cache remembers the repartition
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_seen = False
    for line in plan.splitlines():
        if "ShuffledHashJoin" in line:
            join_seen = True
            continue
        if join_seen:
            if "InMemoryRelation" in line:
                break
            assert "Exchange" not in line, line
    assert join_seen


def test_qgram_single_gram_rank_pass(spark):
    """Round-5 shape contract for dedup_levenshtein_qgram: ONE
    gram-ranking window subtree (2 Window nodes: the rank + the
    distinct-gram count), not the round-4 triple recomputation (10
    Window nodes), and pairs come from grouped posting lists, not a
    posting self-join."""
    import re

    plan = _plan(spark, "dedup_levenshtein_qgram")
    n_windows = len(re.findall(r"\bWindow \[", plan))
    assert n_windows <= 2, f"gram-rank subtree recomputed ({n_windows} Window nodes)"
    # no posting-list SELF-join (keyed on lang+bucket+gram); the
    # gram-frequency lookup join (gram only) is legitimate
    for line in plan.splitlines():
        if "Join" in line:
            assert not ("gram#" in line and "bucket#" in line), line


def _plan_nodes(node):
    """Every node of a JVM physical plan, pre-order, descending into
    the current plan of an AdaptiveSparkPlan and the cached plan of an
    InMemoryTableScan (both are leaves to ``children()``)."""
    yield node
    kids = []
    if node.nodeName() == "AdaptiveSparkPlan":
        kids.append(node.executedPlan())
    elif node.nodeName() == "InMemoryTableScan":
        kids.append(node.relation().cachedPlan())
    it = node.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    for kid in kids:
        yield from _plan_nodes(kid)


def test_shingle_chain_evaluates_once(spark):
    """r13 shape contract for _shingle_df: the interpreted shingle
    chain (split -> transform -> array_distinct) must appear ONCE in
    the cache-fill plan, ABOVE the spread exchange. The old
    filter-then-cache order let predicate pushdown drag the
    size(shingles)>=1 condition — and the whole chain with it — below
    the exchange into the scan stage, so every cache fill paid the
    chain twice (once serially in the scan's filter)."""
    from go_triton_spark.operators.dedup import _shingle_df

    spark.catalog.clearCache()  # plan the full cache fill
    df = _shingle_df(spark, SF)
    try:
        nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
        chain = [n.simpleString(10000) for n in nodes
                 if "concat_ws" in n.simpleString(10000)]
        assert len(chain) == 1, chain
        # the one evaluation sits above the exchange: no Filter in the
        # subtree below any Exchange carries the chain
        exchanges = [n for n in nodes if n.nodeName() == "Exchange"]
        assert exchanges
        for ex in exchanges:
            for n in _plan_nodes(ex):
                if n.nodeName() == "Filter":
                    assert "concat_ws" not in n.simpleString(10000), \
                        n.simpleString(10000)
    finally:
        df.unpersist()


def test_minhash_no_bucket_self_join(spark):
    """r13 shape contract for dedup_minhash_lsh: candidate pairs come
    from grouped bucket member lists (one evaluation of the signature
    pipeline, one shuffle of the narrow bucket rows), not the old
    bucket self-join that recomputed the per-shingle hash transform
    and all 16 minhash folds on both branches."""
    spark.catalog.clearCache()  # subtree prints depend on cache state
    plan = _plan(spark, "dedup_minhash_lsh")
    for line in plan.splitlines():
        if "Join" in line:
            assert "band#" not in line and "key#" not in line, line
    # the grouped member-list path is present
    assert "collect_list" in plan
    # the pair table rides the explicit id_a pin; the old
    # distinct-on-(id_a, id_b) double shuffle is gone
    assert "REPARTITION_BY_NUM" in plan
    import re

    assert not re.search(r"hashpartitioning\(id_a#\d+L?, id_b#", plan), plan
