"""Entity-resolution correctness: injected-corruption recall, blocking
precision, transitive clustering, and survivorship (operators/entity.py).

The injected universe is fully deterministic, so the tests pin the EXACT
edge/cluster structure — every corruption class recalled, the known
distance-3 pair matched only transitively, no cross-entity merges."""

from __future__ import annotations

from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.operators.entity import (
    ER_MAX_LEV,
    ER_N_SOURCES,
    ER_OFF_DEL,
    ER_OFF_SUB,
    ER_OFF_SWP,
    blocked_match_pairs,
    er_records,
)
from avro_parquet_spark_example_spark.registry import get_query


def _kind(i: int) -> str:
    if i >= ER_OFF_SWP:
        return "swp"
    if i >= ER_OFF_DEL:
        return "del"
    if i >= ER_OFF_SUB:
        return "sub"
    return "src"


def test_blocked_match_exact_edge_structure(spark, sf_dir):
    """Five edges per injected group — (src,sub)=1 (src,del)=1 (src,swp)=2
    (sub,del)=2 (del,swp)=2 — and nothing else: full recall of every
    within-threshold pair, zero cross-group or organic false positives."""
    rows = get_query("er_blocked_match").fn(spark, sf_dir).collect()
    assert len(rows) == 5 * ER_N_SOURCES
    by_kind: dict[tuple[str, str, int], int] = {}
    for r in rows:
        # both sides must come from the same source group
        assert r.id_a % 100_000 == r.id_b % 100_000
        assert 1 <= r.lev <= ER_MAX_LEV
        k = (_kind(r.id_a), _kind(r.id_b), r.lev)
        by_kind[k] = by_kind.get(k, 0) + 1
    assert by_kind == {
        ("src", "sub", 1): ER_N_SOURCES,
        ("src", "del", 1): ER_N_SOURCES,
        ("src", "swp", 2): ER_N_SOURCES,
        ("sub", "del", 2): ER_N_SOURCES,
        ("del", "swp", 2): ER_N_SOURCES,
    }


def test_clusters_transitive_and_golden(spark, sf_dir):
    """The (sub, swp) pair is at Levenshtein 3 — beyond the pairwise
    threshold — yet clustering still lands all four records of each group
    in ONE cluster labelled by the uncorrupted source (min id), which is
    the golden record."""
    rows = get_query("er_match_clusters").fn(spark, sf_dir).collect()
    assert len(rows) == 4 * ER_N_SOURCES
    by_cluster: dict[int, set[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.id)
        assert r.is_golden == (r.id == r.cluster_id)
    assert set(by_cluster) == set(range(ER_N_SOURCES))
    for src, members in by_cluster.items():
        assert members == {
            src,
            src + ER_OFF_SUB,
            src + ER_OFF_DEL,
            src + ER_OFF_SWP,
        }


def test_golden_record_survivorship(spark, sf_dir):
    """One golden row per entity: the survivor name is the uncorrupted
    source name, with 4 members / 4 distinct name spellings."""
    rows = get_query("er_golden_record").fn(spark, sf_dir).collect()
    assert len(rows) == ER_N_SOURCES
    names = {
        r.c_custkey: r.c_name
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_custkey") < ER_N_SOURCES)
        .collect()
    }
    for r in rows:
        assert r.n_members == 4
        assert r.n_name_variants == 4
        assert r.golden_name == names[r.cluster_id]


def test_blocking_key_survives_every_corruption_class(spark, sf_dir):
    """The design invariant behind the blocking key: every corruption is
    a prefix edit, so right(name, 6) is identical across all four
    spellings of a group — each injected group is exactly one block."""
    recs = er_records(
        spark.read.parquet(f"{sf_dir}/customer.parquet")
    ).select(
        "id", F.expr("right(name, 6)").alias("bkey")
    )
    groups = (
        recs.filter(
            (F.col("id") < ER_N_SOURCES) | (F.col("id") >= ER_OFF_SUB)
        )
        .groupBy(F.col("id") % 100_000)
        .agg(F.count_distinct("bkey").alias("nk"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(groups) == ER_N_SOURCES
    for g in groups:
        assert g.n == 4 and g.nk == 1


def test_match_threshold_tightening_drops_transposition(spark, sf_dir):
    """max_lev=1 keeps only the substitution/deletion edges — the dial is
    real, not decorative."""
    recs = er_records(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    rows = blocked_match_pairs(recs, max_lev=1).collect()
    assert len(rows) == 2 * ER_N_SOURCES
    assert {( _kind(r.id_a), _kind(r.id_b)) for r in rows} == {
        ("src", "sub"),
        ("src", "del"),
    }


def test_block_cap_bounds_hot_block(spark):
    """The r8-verdict scale gap: a hot blocking key (shared surname /
    truncated field) makes the per-block self-join quadratic. With
    ``max_block_size`` the block is excluded BEFORE the join (drop mode,
    observable via ``er_oversized_blocks``) or fails loudly (error mode);
    a cap above the block size reproduces the uncapped pair set exactly."""
    import pytest

    from avro_parquet_spark_example_spark.operators.entity import (
        ER_MAX_BLOCK,
        er_oversized_blocks,
    )

    n = 200  # > ER_MAX_BLOCK: one hot block, all pairwise lev <= 1
    rows = [(i, f"x{i % 7}-HOTSUF") for i in range(n)]
    recs = spark.createDataFrame(rows, ["id", "name"])
    assert n > ER_MAX_BLOCK

    uncapped = blocked_match_pairs(recs, max_block_size=None).count()
    assert uncapped == n * (n - 1) // 2  # the full quadratic expansion

    # drop (default): the hot block is excluded before the join
    assert blocked_match_pairs(recs).count() == 0
    over = er_oversized_blocks(recs).collect()
    assert [(r.bkey, r.block_size) for r in over] == [("HOTSUF", n)]

    # error: exact-or-fail raises at execution time
    with pytest.raises(Exception, match="max_block_size"):
        blocked_match_pairs(recs, on_oversized="error").count()

    # cap above the block: identical to uncapped (exact semantics)
    assert blocked_match_pairs(recs, max_block_size=n).count() == uncapped

    with pytest.raises(ValueError, match="drop\\|error"):
        blocked_match_pairs(recs, on_oversized="bogus")


def test_block_cap_identity_on_fixture(spark, sf_dir):
    """Fixture blocks are <= 4 (suffix key unique per custkey), so all
    three modes produce the identical pair set at the default cap — the
    oracle-hash-checked queries are unaffected by the cap machinery."""
    from avro_parquet_spark_example_spark.sources.catalog import load

    recs = er_records(load(spark, sf_dir, "customer"))
    base = {
        (r.id_a, r.id_b, r.lev)
        for r in blocked_match_pairs(recs, max_block_size=None).collect()
    }
    for mode in ("drop", "error"):
        got = {
            (r.id_a, r.id_b, r.lev)
            for r in blocked_match_pairs(recs, on_oversized=mode).collect()
        }
        assert got == base


def test_multipass_recovers_tail_class_single_pass_misses(spark, sf_dir):
    """The multi-pass recall claim, asserted structurally: the suffix-key
    pass alone finds exactly the five prefix-variant edges per group; the
    phone pass adds exactly the (src, tail) edge the suffix key
    structurally cannot see (the tail append shifts right(name, 6)) —
    and nothing else. A record must corrupt BOTH fields to evade."""
    from avro_parquet_spark_example_spark.operators.entity import (
        ER_OFF_TAIL,
        er_records_mf,
        multipass_candidates,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    recs = er_records_mf(load(spark, sf_dir, "customer")).localCheckpoint(
        eager=True
    )

    def verified(cands):
        ra = recs.select(F.col("id").alias("id_a"), F.col("name").alias("na"))
        rb = recs.select(F.col("id").alias("id_b"), F.col("name").alias("nb"))
        return {
            (r.id_a, r.id_b)
            for r in cands.join(ra, "id_a")
            .join(rb, "id_b")
            .filter(F.levenshtein("na", "nb") <= ER_MAX_LEV)
            .select("id_a", "id_b")
            .collect()
        }

    single = verified(multipass_candidates(recs, ("right(name, 6)",)))
    multi = verified(multipass_candidates(recs))
    assert len(single) == 5 * ER_N_SOURCES
    assert len(multi) == 6 * ER_N_SOURCES
    gained = multi - single
    # the gained edges are exactly (src k, tail variant of k)
    assert gained == {(k, k + ER_OFF_TAIL) for k in range(ER_N_SOURCES)}


def test_weighted_match_threshold_sweep(spark, sf_dir):
    """Fellegi–Sunter-shape score sweep: per injected group the seven
    candidate pairs score {16, 12, 10, 10, 7, 4, 1} (name band + phone
    agreement + nation agreement), so the accepted-pair count per group
    steps 7 → 5 → 4 → 2 → 1 → 0 as the threshold tightens — monotone,
    with the (del, swp) pair (a pure-lev match at lev 2) REJECTED at the
    default threshold because the swp nation corruption vetoes it."""
    from avro_parquet_spark_example_spark.operators.entity import (
        ER_MATCH_THRESHOLD,
        ER_OFF_DEL,
        ER_OFF_SWP,
        er_records_mf,
        multipass_candidates,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    recs = er_records_mf(load(spark, sf_dir, "customer")).localCheckpoint(
        eager=True
    )
    cands = multipass_candidates(recs)
    ra = recs.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("na"),
        F.col("phone").alias("pa"),
        F.col("nk").alias("ka"),
    )
    rb = recs.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("nb"),
        F.col("phone").alias("pb"),
        F.col("nk").alias("kb"),
    )
    lev = F.levenshtein("na", "nb")
    scored = (
        cands.join(ra, "id_a")
        .join(rb, "id_b")
        .withColumn("lev", lev)
        .withColumn(
            "score",
            F.when(F.col("lev") <= 1, 10)
            .when(F.col("lev") == 2, 6)
            .when(F.col("lev") == 3, 3)
            .otherwise(-5)
            + F.when(F.col("pa") == F.col("pb"), 4).otherwise(-2)
            + F.when(F.col("ka") == F.col("kb"), 2).otherwise(-3),
        )
        # restrict to injected groups: organic candidates (if any) are not
        # part of the sweep contract
        .filter(
            (F.col("id_a") % 100_000 < ER_N_SOURCES)
            & (F.col("id_b") % 100_000 < ER_N_SOURCES)
            & (F.col("id_a") % 100_000 == F.col("id_b") % 100_000)
        )
        .select("id_a", "id_b", "score")
        .localCheckpoint(eager=True)
    )
    counts = {
        t: scored.filter(F.col("score") >= t).count()
        for t in (0, 5, ER_MATCH_THRESHOLD, 11, 13, 17)
    }
    assert counts == {
        0: 7 * ER_N_SOURCES,
        5: 5 * ER_N_SOURCES,
        ER_MATCH_THRESHOLD: 4 * ER_N_SOURCES,
        11: 2 * ER_N_SOURCES,
        13: 1 * ER_N_SOURCES,
        17: 0,
    }
    # the (del, swp) veto: lev 2 (a pure-lev match) but score 7 < threshold
    veto = scored.filter(
        (F.col("id_a") >= ER_OFF_DEL)
        & (F.col("id_a") < ER_OFF_SWP)
        & (F.col("id_b") >= ER_OFF_SWP)
    ).collect()
    assert len(veto) == ER_N_SOURCES
    assert all(r.score == 7 for r in veto)


def test_weighted_clusters_quarantine_swp(spark, sf_dir):
    """End-to-end weighted pipeline: clustering over weighted matches
    yields 4-member clusters {src, sub, del, tail} — the nation-corrupted
    swp variant has no accepted edge and is quarantined, where the
    pure-lev clustering (er_match_clusters) merges it."""
    from avro_parquet_spark_example_spark.operators.entity import ER_OFF_TAIL

    rows = get_query("er_weighted_clusters").fn(spark, sf_dir).collect()
    assert len(rows) == 4 * ER_N_SOURCES
    by_cluster: dict[int, set[int]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.id)
        assert r.is_golden == (r.id == r.cluster_id)
    assert set(by_cluster) == set(range(ER_N_SOURCES))
    for src_id, members in by_cluster.items():
        assert members == {
            src_id,
            src_id + ER_OFF_SUB,
            src_id + ER_OFF_DEL,
            src_id + ER_OFF_TAIL,
        }


def test_block_cap_split_mode(spark):
    """ER split mode (the lsh_band_pairs 'split' twin): a hot block is
    sub-partitioned instead of dropped — pairs stay a subset of uncapped,
    per-sub expansion is bounded, recall inside the hot block ~1/n_sub
    per pass — and because the sub-hash is salted on the block key, a
    SECOND blocking pass over the same hot population sub-partitions
    independently, so the multipass union recovers strictly more pairs
    than either single pass."""
    from avro_parquet_spark_example_spark.operators.entity import (
        multipass_candidates,
    )

    n = 200  # hot on BOTH keys: shared name suffix AND shared phone
    recs = spark.createDataFrame(
        [(i, f"x{i % 7}-HOTSUF", "P555") for i in range(n)],
        ["id", "name", "phone"],
    )
    uncapped = blocked_match_pairs(recs, max_block_size=None).count()
    split = {
        (r.id_a, r.id_b)
        for r in blocked_match_pairs(recs, on_oversized="split").collect()
    }
    assert 0 < len(split) < uncapped
    # per-pass recall ~1/n_sub = cap/n; allow wide tolerance for hash skew
    assert 0.1 * uncapped < len(split) < 0.6 * uncapped, (
        len(split),
        uncapped,
    )

    def cand_count(exprs):
        return multipass_candidates(
            recs, exprs, on_oversized="split"
        ).count()

    single_a = cand_count(("right(name, 6)",))
    single_b = cand_count(("phone",))
    multi = cand_count(("right(name, 6)", "phone"))
    # independent sub-partitions: the union recovers pairs either single
    # pass misses (1-(1-1/k)^2 vs 1/k of the hot block's pairs)
    assert multi > max(single_a, single_b)


def test_incremental_assign_structure(spark, sf_dir):
    """Incremental assignment pins the full outcome: every prefix/tail
    variant is assigned to its own source cluster with the right lev
    (sub/del/tail 1, swp 2), and the both-fields-corrupted 'lost' variant
    is a NEW entity (blocking evasion is an observable outcome, not a
    silent miss)."""
    from avro_parquet_spark_example_spark.operators.entity import (
        ER_OFF_LOST,
        ER_OFF_TAIL,
    )

    rows = get_query("er_incremental_assign").fn(spark, sf_dir).collect()
    assert len(rows) == 5 * ER_N_SOURCES
    expected_lev = {
        ER_OFF_SUB: 1,
        ER_OFF_DEL: 1,
        ER_OFF_SWP: 2,
        ER_OFF_TAIL: 1,
    }
    for r in rows:
        off = (r.id // 100_000) * 100_000
        src_key = r.id - off
        if off == ER_OFF_LOST:
            assert r.is_new and r.assigned_cluster == r.id and r.lev == -1
        else:
            assert not r.is_new
            assert r.assigned_cluster == src_key
            assert r.lev == expected_lev[off], (r.id, r.lev)


def test_fixture_guard_rejects_keys_above_offsets(spark):
    """The variant-id scheme guard: a customer key at or above the first
    variant offset raises at execution time instead of silently being
    misread as an injected variant (the 10x key-shift hazard,
    SCALING.md round-9 note)."""
    import pytest

    bad = spark.createDataFrame(
        [(1, "Customer#000000001"), (900_001, "Customer#000900001")],
        ["c_custkey", "c_name"],
    )
    with pytest.raises(Exception, match="variant offset"):
        er_records(bad).count()


def test_er_records_gated_matches_full_form(spark, sf_dir):
    """The size-gated records frame (bounded variants checkpointed,
    corpus base lazy) must be row-identical to the plain union — the
    r16 checkpoint-hygiene change is a materialization choice, never a
    semantic one."""
    from avro_parquet_spark_example_spark.operators.entity import (
        er_records,
        er_records_gated,
        er_records_mf,
        er_records_mf_gated,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    cust = load(spark, sf_dir, "customer")
    assert sorted(map(tuple, er_records(cust).collect())) == sorted(
        map(tuple, er_records_gated(cust).collect())
    )
    assert sorted(map(tuple, er_records_mf(cust).collect())) == sorted(
        map(tuple, er_records_mf_gated(cust).collect())
    )
