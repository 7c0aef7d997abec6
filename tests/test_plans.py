"""Explain-plan assertions (SURVEY.md §5 item 3): the physical plans must be
the ones a 100 TB deployment needs — pruned scans, pushed filters, broadcast
vs shuffle join choice, top-k heaps instead of global sorts."""

from __future__ import annotations

from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.plans.explain import (
    formatted_plan,
    physical_operators,
    pushed_filters,
    read_schema_columns,
    uses_whole_stage_codegen,
)
from avro_parquet_spark_example_spark.registry import get_query
from avro_parquet_spark_example_spark.sources.catalog import load


def test_projection_prunes_read_schema(spark, sf_dir):
    """A5 — the 2-column projection reads exactly 2 of lineitem's 16 columns
    (the modern form of the reference's setRequestedProjection)."""
    df = get_query("projection_pushdown_scan").fn(spark, sf_dir)
    assert read_schema_columns(df) == {"l_orderkey", "l_extendedprice"}


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") < 24).select(
        "l_orderkey", "l_quantity"
    )
    pf = pushed_filters(df)
    assert "l_quantity" in pf and "LessThan" in pf


def test_flagship_prunes_and_pushes(spark, sf_dir):
    df = get_query("agg_scan_group").fn(spark, sf_dir)
    cols = read_schema_columns(df)
    assert "l_comment" not in cols and len(cols) <= 8
    assert "l_shipdate" in pushed_filters(df)


def test_dim_join_broadcasts(spark, sf_dir):
    df = get_query("join_broadcast_equi").fn(spark, sf_dir)
    ops = physical_operators(df)
    assert "BroadcastHashJoin" in ops
    assert "SortMergeJoin" not in ops


def test_topk_plans_take_ordered(spark, sf_dir):
    df = get_query("topk").fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_operators(df)


def test_semi_anti_join_types(spark, sf_dir):
    semi_plan = formatted_plan(get_query("join_semi").fn(spark, sf_dir))
    anti_plan = formatted_plan(get_query("join_anti").fn(spark, sf_dir))
    assert "LeftSemi" in semi_plan
    assert "LeftAnti" in anti_plan


def test_flagship_uses_codegen(spark, sf_dir):
    assert uses_whole_stage_codegen(get_query("agg_scan_group").fn(spark, sf_dir))


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """C9 — co-located bucketed join: no shuffle (and no sort) on either
    side. Broadcast is disabled so the merge path shows — at test scale the
    dim side otherwise broadcasts, which hides the bucketing."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = get_query("join_bucketed_colocated").fn(spark, sf_dir)
        plan = formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    tree = plan.split("\n\n")[0].splitlines()  # the operator tree rendering
    join_line = next(i for i, l in enumerate(tree) if "SortMergeJoin" in l)
    subtree = tree[join_line + 1 :]  # children of the join (scans, sorts)
    assert "Bucketed: true" in plan
    # the point: NO shuffle feeds the join (modern Spark keeps an in-partition
    # Sort node — cheap — since sortBy ordering exposure is legacy-gated)
    assert not any("Exchange" in l for l in subtree), subtree


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    """A3 — reading one partition of the hive layout scans only that dir."""
    df = get_query("parquet_write_partitioned").fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters")[1].split("\n")[0]


def test_sample_fraction_bounds(spark, sf_dir):
    """E10 — the seeded sample lands near its 10% target and is stable."""
    df = get_query("sample_scan").fn(spark, sf_dir)
    total = load(spark, sf_dir, "lineitem").count()
    n1, n2 = df.count(), get_query("sample_scan").fn(spark, sf_dir).count()
    assert n1 == n2  # same seed → same sample
    assert 0.05 * total < n1 < 0.15 * total


def test_zorder_read_pushes_both_dimensions(spark, sf_dir):
    """A8 — both dimensions of the box filter reach the parquet reader of
    the z-ordered layout (row-group skipping needs them in PushedFilters)."""
    df = get_query("layout_zorder_write").fn(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_orderkey" in pf and "l_partkey" in pf, pf


def test_stratified_sample_per_stratum_bounds(spark, sf_dir):
    """E10b — each language stratum lands near its own target fraction and
    the whole sample is seed-stable."""
    from avro_parquet_spark_example_spark.operators.windows import (
        STRATIFIED_FRACTIONS as targets,
    )

    df = get_query("sample_stratified").fn(spark, sf_dir)
    totals = {
        r["lang"]: r["count"]
        for r in load(spark, sf_dir, "documents").groupBy("lang").count().collect()
    }
    got = {r["lang"]: r["count"] for r in df.groupBy("lang").count().collect()}
    for lang, frac in targets.items():
        realized = got.get(lang, 0) / totals[lang]
        assert abs(realized - frac) < 0.2, f"{lang}: {realized} vs {frac}"
    n1, n2 = df.count(), get_query("sample_stratified").fn(spark, sf_dir).count()
    assert n1 == n2  # same seed → same sample


def test_q5_broadcasts_all_dims(spark, sf_dir):
    """C11 — the six-table join broadcasts every dimension; only the two
    fact joins may shuffle."""
    plan = formatted_plan(get_query("join_multiway_q5").fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_rollup_plans_single_expand(spark, sf_dir):
    """D4 — rollup is one Expand + one aggregate, not one pass per level."""
    plan = formatted_plan(get_query("agg_rollup").fn(spark, sf_dir))
    assert plan.count("Expand") >= 1
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1  # single pass over the fact table


def test_asof_join_is_window_not_range_join(spark, sf_dir):
    """C8 — the as-of join must be the union+window plan (one exchange per
    side max), never a nested-loop range join."""
    plan = formatted_plan(get_query("join_asof_event").fn(spark, sf_dir))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_tfidf_broadcasts_docfreq(spark, sf_dir):
    """H7 — the document-frequency side joins broadcast (tiny post-agg)."""
    plan = formatted_plan(get_query("text_tfidf_topterms").fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q6_pushes_all_predicates(spark, sf_dir):
    """Q6 — the canonical pushdown benchmark: all three predicates reach
    the Parquet scan and the read schema is pruned to the 4 used columns."""
    df = get_query("tpch_q6").fn(spark, sf_dir)
    pf = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf, f"{col} not pushed: {pf}"
    assert read_schema_columns(df) == {
        "l_shipdate",
        "l_discount",
        "l_quantity",
        "l_extendedprice",
    }


def test_q10_top20_is_heap_not_sort(spark, sf_dir):
    """Q10 — ORDER BY ... LIMIT 20 must plan a TakeOrderedAndProject heap
    (O(n) per partition, 20-row exchange), never a global sort."""
    df = get_query("tpch_q10").fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(df)
    assert "Sort" not in physical_operators(df)


def test_q8_single_aggregation_pass(spark, sf_dir):
    """Q8 — the market-share ratio is conditional aggregation in ONE pass:
    one scan of lineitem, no self-join of the aggregate."""
    plan = formatted_plan(get_query("tpch_q8").fn(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    # 8 scans = one per joined table instance (nation twice); a second
    # lineitem scan would mean the ratio was planned as a self-join.
    assert tree.count("Scan parquet") == 8
    assert plan.count("BroadcastHashJoin") >= 5


def test_bloom_filter_injects_on_fact_scan(spark, sf_dir):
    """C11 — with scale-representative thresholds (the probe side of a real
    deployment always exceeds 10 GiB) Spark's InjectRuntimeFilter must turn
    the selective orders filter into a might_contain() pruning predicate on
    the lineitem side. Thresholds are lowered only inside this test because
    local test data is tiny; plan shape is what's asserted."""
    conf = spark.conf
    prev_scan = conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    prev_bcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = get_query("join_bloom_pruned").fn(spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized
        assert "bloom_filter_agg" in optimized
        assert "SortMergeJoin" in physical_operators(df)
    finally:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_scan,
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """A10 — the dim-side runtime filter must reach the partitioned fact
    scan as a dynamicpruning subquery, and the pruned scan must read only
    the matching month directories."""
    df = get_query("join_dpp_partitioned").fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "dynamicpruning" in plan.lower()
    # the pruned scan must carry the partition filter on ship_month
    assert "ship_month" in plan


def test_substring_spans_two_bounded_shuffles_no_cartesian(spark, sf_dir):
    """H2c — the substring tier must stay equi-shaped: window-hash ranking
    then per-doc span merge, never a pairwise join."""
    plan = formatted_plan(get_query("dedup_substring_spans").fn(spark, sf_dir))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # both windows are key-partitioned: no single-partition global stage
    assert "SinglePartition" not in plan


def test_token_budget_has_no_global_window(spark, sf_dir):
    """H6o — the distributed prefix sum exists precisely to avoid the
    single-partition global running-sum window; assert the plan contains a
    bucket-partitioned window, a broadcast offsets join, and NO
    SinglePartition exchange anywhere."""
    plan = formatted_plan(
        get_query("curation_token_budget_select").fn(spark, sf_dir)
    )
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan  # ~32-row offsets side
    assert "SinglePartition" not in plan


def test_quality_percentile_window_is_lang_partitioned(spark, sf_dir):
    """H6n — the percentile filter windows per language, no global stage."""
    plan = formatted_plan(
        get_query("curation_quality_percentile").fn(spark, sf_dir)
    )
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_lateral_join_decorrelates(spark, sf_dir):
    """C9 — the LATERAL correlated subquery must decorrelate to a window +
    equi-join plan, never a per-row nested loop."""
    plan = formatted_plan(get_query("join_lateral_topk").fn(spark, sf_dir))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_plan_audit_full_registry(spark, sf_dir):
    """Sweep EVERY registered query's physical plan through the shared
    red-flag audit (plans/audit.py): no CartesianProduct /
    BroadcastNestedLoopJoin / BatchEvalPython outside the explicit
    (query, reason) allow-list, and no Window fed by an Exchange
    SinglePartition. This is the enforcement point the CLI
    (tools/plan_audit.py) previews — a new operator that lands on a
    Python hot path or an unpartitioned window fails HERE with its name
    and flags, not in a manual tool run.

    Plans are built at the test SF; driver-driven queries execute their
    bounded driver steps (checkpoints, offset collects) while building,
    which is the honest cost of auditing their REAL final plan. Queries
    that cannot build a batch plan at all would surface as build errors —
    none are expected, and the zero-skip assertion pins that."""
    from avro_parquet_spark_example_spark.plans.audit import audit_plan
    from avro_parquet_spark_example_spark.registry import all_queries
    from avro_parquet_spark_example_spark.session import release

    build_errors: dict[str, str] = {}
    violations: dict[str, list[str]] = {}
    n_audited = 0
    try:
        for name, fn in sorted(all_queries().items()):
            try:
                plan = formatted_plan(fn(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 - collected and asserted
                build_errors[name] = f"{type(exc).__name__}: {exc}"[:120]
                continue
            _, unexpected = audit_plan(name, plan)
            if unexpected:
                violations[name] = unexpected
            n_audited += 1
    finally:
        # the other tests share this session: leave them no cached plans
        # and none of the checkpoints those plans hold
        release(spark)
    assert not build_errors, f"queries failed to build a plan: {build_errors}"
    assert not violations, f"plan-audit violations: {violations}"
    assert n_audited >= 170, f"registry shrank? only {n_audited} plans audited"


def test_window_detector_direct_input_only(spark, sf_dir):
    """The single-partition-window detector flags only a window whose
    DIRECT input spine carries the SinglePartition exchange (a genuine
    global window over unbounded input), not a window whose input TREE
    merely contains a bounded 1-row global aggregate's final-agg exchange
    (the df-cap corpus-size count, broadcast totals) — the round-7
    false-positive the detector was sharpened against."""
    from pyspark.sql import Window

    from avro_parquet_spark_example_spark.plans.audit import (
        window_over_single_partition,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # genuine hazard: unpartitioned window straight over the scan
    hazard = d.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert window_over_single_partition(formatted_plan(hazard))
    # partitioned window: no flag
    fine = d.withColumn(
        "rn", F.row_number().over(Window.partitionBy("lang").orderBy("doc_id"))
    )
    assert not window_over_single_partition(formatted_plan(fine))
    # bounded: window over a TakeOrderedAndProject K-row list whose input
    # tree contains a 1-row global-agg SinglePartition exchange
    total = d.agg(F.count(F.lit(1)).alias("n"))
    topk = (
        d.crossJoin(F.broadcast(total))
        .orderBy(F.desc("doc_id"))
        .limit(10)
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("doc_id"))))
    )
    assert not window_over_single_partition(formatted_plan(topk))
    # rank-limit pushdown: rk <= k over a global rank() window makes Spark
    # insert a WindowGroupLimit BETWEEN the Window and its SinglePartition
    # exchange (row_number would be rewritten to TakeOrderedAndProject,
    # which is bounded; rank's ties resist that rewrite) — the spine walk
    # must pass through it and still flag (ADVICE r7: an unknown unary
    # node must not hide a global window)
    ranked = (
        d.withColumn("rk", F.rank().over(Window.orderBy("n_chars")))
        .filter(F.col("rk") <= 3)
    )
    plan = formatted_plan(ranked)
    assert "WindowGroupLimit" in plan, "fixture must exercise the pushdown"
    assert window_over_single_partition(plan)


def test_compaction_collapses_file_count(spark, sf_dir):
    """layout_compact_small_files: the fragmented layout has ~64 files, the
    compacted rewrite has the byte-size-derived target count (1 at test
    scale) — and both hold the same rows."""
    import glob
    import os

    from avro_parquet_spark_example_spark.registry import all_queries
    from avro_parquet_spark_example_spark.sources.catalog import scratch_suffix
    from avro_parquet_spark_example_spark.sources.scans import SCRATCH

    out = all_queries()["layout_compact_small_files"](spark, sf_dir)
    n_rows = out.count()
    base = os.path.join(SCRATCH, scratch_suffix(sf_dir))
    n_frag = len(glob.glob(os.path.join(base, "docs_fragmented.parquet", "*.parquet")))
    n_comp = len(glob.glob(os.path.join(base, "docs_compacted.parquet", "*.parquet")))
    assert n_frag > 30, f"fragmented layout should have many files, got {n_frag}"
    assert n_comp == 1, f"compacted layout should be 1 file at test scale, got {n_comp}"
    assert n_rows == spark.read.parquet(f"{sf_dir}/documents.parquet").count()


def test_percent_rank_window_is_matrix_sized(spark, sf_dir):
    """E2' (VERDICT r11 task #1) — window_percent_rank_cume must NOT
    window the full table over the 3-value return-flag key: every Window
    in the plan must sit above a HashAggregate on its input spine (i.e.
    windows run over the domain-sized frequency matrix, never directly
    over a scan), and the row-level stage is a broadcast join back."""
    import re

    plan = formatted_plan(
        get_query("window_percent_rank_cume").fn(spark, sf_dir)
    )
    tree = plan.split("\n\n")[0].splitlines()
    win_lines = [i for i, l in enumerate(tree) if re.search(r"\bWindow\b", l)]
    assert win_lines, "expected the matrix windows in the plan"

    def indent(line):
        m = re.search(r"[+:]- ", line)
        return m.start() if m else -1

    for wi in win_lines:
        base = indent(tree[wi])
        # walk the first-child spine below the window; a HashAggregate
        # must appear before any parquet Scan
        ok = False
        for line in tree[wi + 1:]:
            d = indent(line)
            if d <= base and d != -1 and "AdaptiveSparkPlan" not in line:
                break
            if "HashAggregate" in line:
                ok = True
                break
            if "Scan parquet" in line:
                break
        assert ok, f"Window at tree line {wi} is fed by a raw scan:\n{plan[:2000]}"
    assert "BroadcastHashJoin" in plan  # decorate-back join
    assert "SinglePartition" not in plan


# ---------------------------------------------------------------------------
# Round-15 optimization pins (OPTIMIZATION_r15.md): input-parallelism spread
# + join-conjunct ordering on the label-blocked pair join.


def test_neardup_embedding_probe_spread_and_conjunct_order(spark, sf_dir):
    """neardup_embedding (r15): the probe side must widen off the one-split
    scan (guide §2.5 input skew — previously every candidate pair's
    64-element fold ran in ONE task), and the cheap `a < b` id bound must
    lead the join condition so the fold never runs for the (b, a)
    orderings a separate pushed filter used to put it behind."""
    import re

    plan = formatted_plan(get_query("neardup_embedding").fn(spark, sf_dir))
    assert "RoundRobinPartitioning" in plan, "probe-side spread() missing"
    cond = next(
        (l for l in plan.splitlines() if l.startswith("Join condition:")), ""
    )
    assert cond, f"no join condition in plan:\n{plan[:1500]}"
    id_bound = re.search(r"\(a#\d+L? < b#\d+L?\)", cond)
    fold = cond.find("aggregate(")
    assert id_bound and fold != -1 and id_bound.start() < fold, (
        f"id bound must precede the dot-product fold: {cond}"
    )


def test_heavy_maps_spread_off_single_split(spark, sf_dir):
    """ml_feature_hashing / agg_percentiles (r15): the per-token md5 chain
    and the percentile partial-buffer build must not ride the one-split
    scan's single task — the plan carries the widening round-robin
    exchange ahead of the heavy map work."""
    for key in ("ml_feature_hashing", "agg_percentiles"):
        plan = formatted_plan(get_query(key).fn(spark, sf_dir))
        assert "RoundRobinPartitioning" in plan, f"{key}: spread() missing"
