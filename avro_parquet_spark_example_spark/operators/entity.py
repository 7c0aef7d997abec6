"""Entity resolution / record linkage — blocking, pairwise match, transitive
clustering, survivorship (SURVEY.md §2 H-family extension: the
training-data-pipeline operator that reconciles the same real-world entity
appearing under typo'd / reformatted keys across sources).

The classic three-stage shape (Fellegi–Sunter framing, Febrl-style
corruption benchmark):

1. **Blocking** — cheap deterministic keys bound the candidate space; the
   self-join runs per block, never all-pairs (the LSH-bucket precedent in
   operators/dedup.py, with a hand-designed key instead of hashed bands).
2. **Pairwise match** — exact edit-distance verification on candidates
   only (``levenshtein`` is built-in on BOTH engines, so the match score
   is an exact integer and the whole stage hash-checks cross-engine).
3. **Clustering + survivorship** — matched pairs are transitively closed
   into entity clusters (records A—B and B—C merge even when A—C exceeds
   the pairwise threshold), then each cluster elects a golden record.

The driver fixture is entity-duplicate-free, so the checked queries inject
deterministic corrupted variants on BOTH engines (the
``with_injected_duplicates`` precedent, operators/dedup.py:63): for each
customer key < 80, three classic typo classes over the word part of
``c_name`` — substitution ('m'→'n' at position 6), deletion (position 4),
adjacent transposition (positions 2/3). Corruptions hit the PREFIX only,
which is what makes the blocking key honest: ``right(name, 6)`` is
position-independent, so any single prefix edit leaves it intact — the
textbook "block on the field the corruption model doesn't touch" rule
(production rotates several keys across passes; the single-key form keeps
the oracle exact, and multi-pass rotation is already demonstrated by
``dedup_sorted_neighborhood``).

Scale shape: blocking is one projection + a per-block self-join whose
block sizes are data-bounded (here ≤ 4: one source + three variants; a
skewed block is the same hazard class as an LSH mega-bucket and takes the
same cap — ``max_block_size`` below, mirroring ``lsh_band_pairs``),
Levenshtein runs only on candidate pairs, and clustering uses the shared
``connected_components`` (bounded per-round state). The pipeline runs
over the FULL customer table — only the injected groups produce matches,
so the output is fixture-determined (400 match edges across 80 injected
groups; 320 clustered records) while the blocking/verify stages still
scan corpus-sized input at every SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.operators.capping import (
    capped_group,
    oversized_groups,
)
from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load

#: Injected-variant id offsets (one per corruption class) and the source
#: universe bound. Sources are c_custkey < ER_N_SOURCES (exists at every
#: SF); variants get source_key + offset, far outside any real key range.
ER_N_SOURCES = 80
ER_OFF_SUB = 800_000
ER_OFF_DEL = 900_000
ER_OFF_SWP = 1_000_000

#: Pairwise match threshold: max Levenshtein distance. 2 admits every
#: (source, variant) pair plus the (sub, del) and (del, swp) variant
#: pairs, while the (sub, swp) pair sits at distance 3 — matched only
#: TRANSITIVELY through the source, which is exactly what stage 3 is for.
ER_MAX_LEV = 2

#: Block-size skew dial (the ``LSH_MAX_BUCKET`` twin, operators/dedup.py):
#: the per-block self-join is quadratic in block size, so blocks above the
#: cap are excluded BEFORE the join. Fixture blocks are ≤ 4 (one source +
#: three variants — ``right(name, 6)`` is unique per custkey below 10^6),
#: so 64 is pure headroom; the cap exists for real corpora where a hot
#: suffix (shared surname, empty string, truncated field) would otherwise
#: go quadratic with no defense.
ER_MAX_BLOCK = 64

#: The corrupted-variant UNION, shared verbatim by all three oracles.
_ER_RECS_SQL = f"""
    recs AS (
        SELECT c_custkey AS id, c_name AS name FROM customer
        UNION ALL
        SELECT c_custkey + {ER_OFF_SUB},
               SUBSTR(c_name, 1, 5) || 'n' || SUBSTR(c_name, 7)
        FROM customer WHERE c_custkey < {ER_N_SOURCES}
        UNION ALL
        SELECT c_custkey + {ER_OFF_DEL},
               SUBSTR(c_name, 1, 3) || SUBSTR(c_name, 5)
        FROM customer WHERE c_custkey < {ER_N_SOURCES}
        UNION ALL
        SELECT c_custkey + {ER_OFF_SWP},
               SUBSTR(c_name, 1, 1) || SUBSTR(c_name, 3, 1)
                 || SUBSTR(c_name, 2, 1) || SUBSTR(c_name, 4)
        FROM customer WHERE c_custkey < {ER_N_SOURCES}
    ),
    keyed AS (SELECT id, name, RIGHT(name, 6) AS bkey FROM recs),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               LEVENSHTEIN(a.name, b.name) AS lev
        FROM keyed a JOIN keyed b ON b.bkey = a.bkey AND a.id < b.id
        WHERE LEVENSHTEIN(a.name, b.name) <= {ER_MAX_LEV}
    )"""


def _assert_ids_below_offsets(base: DataFrame) -> DataFrame:
    """Exact-or-fail fixture guard: the variant-id scheme assumes every
    REAL customer key sits below the first variant offset — at a large
    enough SF that assumption breaks and base records would silently be
    misread as injected variants (observed on a synthetic 10× key-shifted
    table, SCALING.md round-9 note). One per-row predicate riding the
    scan turns that into a loud execution-time error on BOTH the checked
    queries and their fixtures."""
    return base.filter(
        F.assert_true(
            F.col("id") < ER_OFF_SUB,
            F.concat(
                F.lit("er fixture: customer key >= variant offset "),
                F.lit(str(ER_OFF_SUB)),
                F.lit(": id="),
                F.col("id").cast("string"),
            ),
        ).isNull()
    )


def _er_base(cust: DataFrame) -> DataFrame:
    """The corpus-scale branch of :func:`er_records`: the full customer
    table projected to (id, name)."""
    return _assert_ids_below_offsets(
        cust.select(
            F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
        )
    )


def _er_variants(base: DataFrame) -> DataFrame:
    """The BOUNDED branch of :func:`er_records`: the three injected
    corrupted variants per source key — 3 × ER_N_SOURCES rows, a
    corpus-independent constant."""
    src = base.filter(F.col("id") < ER_N_SOURCES)
    sub = src.select(
        (F.col("id") + ER_OFF_SUB).alias("id"),
        F.concat(
            F.substring("name", 1, 5), F.lit("n"), F.substring("name", 7, 100)
        ).alias("name"),
    )
    dele = src.select(
        (F.col("id") + ER_OFF_DEL).alias("id"),
        F.concat(F.substring("name", 1, 3), F.substring("name", 5, 100)).alias(
            "name"
        ),
    )
    swp = src.select(
        (F.col("id") + ER_OFF_SWP).alias("id"),
        F.concat(
            F.substring("name", 1, 1),
            F.substring("name", 3, 1),
            F.substring("name", 2, 1),
            F.substring("name", 4, 100),
        ).alias("name"),
    )
    return sub.unionByName(dele).unionByName(swp)


def er_records(cust: DataFrame) -> DataFrame:
    """(id, name): full customer table plus the three injected corrupted
    variants per source key < ER_N_SOURCES — the Spark twin of
    ``_ER_RECS_SQL``."""
    base = _er_base(cust)
    return base.unionByName(_er_variants(base))


def er_records_gated(cust: DataFrame) -> DataFrame:
    """:func:`er_records` with the size-gated materialization the
    multi-consumer registered queries use (r16, VERDICT r15 checkpoint
    hygiene): only the BOUNDED variants branch (3 × ER_N_SOURCES rows —
    constant, corpus-independent) is eagerly localCheckpointed; the
    corpus-scale base stays a lazy column-pruned scan, re-planned per
    consumer. The r15 form checkpointed the WHOLE 4-branch union — at
    100 TB that materializes ~a full corpus copy to executor storage and
    truncates its lineage (an executor loss mid-query fails the job
    instead of recomputing a scan); the variants gate keeps the plan
    dedup where the plan was actually exploding (the bounded union) and
    accepts a few cheap pruned corpus re-scans instead, per the
    bounded-frame checkpoint rule. Identical plan-bloat protection was
    measured flat at sf0.1 (OPTIMIZATION_r16.md)."""
    base = _er_base(cust)
    return base.unionByName(
        _er_variants(base).localCheckpoint(eager=True)
    )


def _cap_blocks(
    keyed: DataFrame, max_block_size: int | None, on_oversized: str
) -> DataFrame:
    """Shared block-size-cap machinery: count rows per ``bkey`` with one
    map-side-combined aggregate on the SAME key the downstream self-join
    shuffles on, drop blocks below 2 (cannot form a pair), and apply the
    skew cap — ``drop`` excludes >cap blocks, ``error`` raises at
    execution time (``assert_true`` rides the shared aggregate), and
    ``split`` sub-partitions an oversized block into ``ceil(size / cap)``
    hash sub-blocks (the key becomes ``struct(bkey, sub)``, so the
    downstream equi-self-join pairs only within a sub-block: per-task
    expansion stays ~cap² at ~1/n_sub recall inside the hot block per
    pass; the sub-hash is salted on the block KEY, so independent
    blocking passes in ``multipass_candidates`` sub-partition
    independently and their union recovers 1-(1-1/n_sub)^passes). The
    full ``lsh_band_pairs`` mode contract. ``on_oversized`` is validated
    even when the cap is disabled (ADVICE r8). Cap machinery: the shared
    :func:`~avro_parquet_spark_example_spark.operators.capping.
    capped_group` (sub-hash salted on the block KEY so independent
    blocking passes sub-partition independently); split mode repacks
    ``bkey`` as ``struct(bkey, sub)`` so the downstream self-join's key
    column stays ``bkey``."""
    capped, keys = capped_group(
        keyed,
        ["bkey"],
        max_block_size,
        on_oversized,
        split_salt_cols=["id", "bkey"],
        min_group_size=2,
        cap_name="max_block_size",
        label="ER block",
    )
    if keys != ["bkey"]:  # split mode: fold the sub-key into bkey
        capped = capped.withColumn(
            "bkey", F.struct(F.col("bkey"), F.col("__cap_sub"))
        ).drop("__cap_sub")
    return capped


def er_oversized_blocks(
    recs: DataFrame,
    block_tail: int = 6,
    max_block_size: int = ER_MAX_BLOCK,
    block_expr: str | None = None,
) -> DataFrame:
    """(bkey, block_size) for blocks the cap would drop — the monitoring
    half of drop-with-log (the ``lsh_oversized_buckets`` twin,
    operators/dedup.py): production runs this alongside
    ``blocked_match_pairs`` and alerts/samples the dropped blocks.
    ``block_expr`` overrides the default suffix key so each pass of a
    multi-pass pipeline (e.g. ``"phone"``) gets its own observer.
    Delegates to the shared :func:`~avro_parquet_spark_example_spark.
    operators.capping.oversized_groups`."""
    key = block_expr if block_expr is not None else f"right(name, {block_tail})"
    return oversized_groups(
        recs.select(F.expr(key).alias("bkey")), ["bkey"], max_block_size
    ).withColumnRenamed("group_size", "block_size")


def blocked_match_pairs(
    recs: DataFrame,
    max_lev: int = ER_MAX_LEV,
    block_tail: int = 6,
    max_block_size: int | None = ER_MAX_BLOCK,
    on_oversized: str = "drop",
) -> DataFrame:
    """(id_a, id_b, lev) — stage 1+2: block on the edit-surviving suffix
    key, self-join per block, verify candidates with exact Levenshtein.
    The join shuffles (id, name, bkey) rows hashed on bkey; Levenshtein
    cost is paid per CANDIDATE, bounded by sum-of-block-size² — the
    all-pairs quadratic never materializes.

    ``max_block_size`` is the skew dial: block sizes are counted with one
    map-side-combined aggregate on the SAME key the self-join shuffles on,
    and blocks above the cap — or below 2, which cannot form a pair — are
    excluded BEFORE the join, so no executor ever materializes a quadratic
    hot-block expansion. ``None`` disables the cap. ``on_oversized`` picks
    what a >cap block does (the ``lsh_band_pairs`` contract verbatim):

    * ``"drop"`` (production default) — drop-with-log; dropped blocks are
      observable via ``er_oversized_blocks``. Output is cap-DEPENDENT.
    * ``"error"`` — exact-or-fail: ``assert_true`` on the shared block-size
      aggregate raises at execution time if ANY block exceeds the cap, so
      a succeeding run is bit-identical to the uncapped semantics. This is
      what the oracle-hash-checked ``er_*`` queries use — their DuckDB
      oracles are uncapped, so a future corpus with an organic hot block
      fails loudly instead of silently diverging from the oracle.
    * ``"split"`` — bounded-memory at bounded recall loss: the oversized
      block is sub-partitioned into ``ceil(size / cap)`` key-salted hash
      sub-blocks and pairs form only within a sub-block (~1/n_sub recall
      inside the hot block per pass; multi-pass unions recover most of
      it — see ``_cap_blocks``). NOT for hash-checked callers.
    """
    keyed = recs.select(
        "id", "name", F.expr(f"right(name, {block_tail})").alias("bkey")
    )
    keyed = _cap_blocks(keyed, max_block_size, on_oversized)
    a = keyed.alias("a")
    b = keyed.alias("b")
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("b.bkey") == F.col("a.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            lev.alias("lev"),
        )
        .filter(F.col("lev") <= max_lev)
    )


@register(
    "er_blocked_match",
    oracle=f"""
    WITH {_ER_RECS_SQL}
    SELECT id_a, id_b, lev FROM pairs
    """,
)
def er_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12a — blocking + pairwise match. Every (source, variant) pair
    surfaces (lev 1 for substitution/deletion, 2 for transposition), plus
    the (sub, del) and (del, swp) variant pairs at lev 2 — five edges per
    injected group; the (sub, swp) pair sits at lev 3 and is matched only
    transitively (er_match_clusters). Zero edges elsewhere: uncorrupted
    names are pairwise-unique and share a block only with their own
    group's variants. Integer Levenshtein on both engines ⇒ hash-exact.
    ``on_oversized="error"``: the oracle is uncapped, so the block cap
    must be exact-or-fail (the ``dedup_minhash_verified`` precedent)."""
    # size-gated materialization (r16): the bounded variants branch is
    # checkpointed once (the lazy 4-branch union re-planned per consumer
    # was the r15 16-scan plan bloat); the corpus-scale base is NOT —
    # the blocking pipeline re-plans its cheap column-pruned scan per
    # consumer instead of materializing a corpus copy to executor
    # storage (VERDICT r15 checkpoint hygiene)
    return blocked_match_pairs(
        er_records_gated(load(spark, sf_dir, "customer")),
        on_oversized="error",
    )


def _reach_duck(pairs: str) -> str:
    """DuckDB transitive closure ``reach`` (node, reachable r) over the
    undirected match edges of relation ``pairs`` (id_a, id_b)."""
    return f"""edges AS (
        SELECT id_a AS u, id_b AS v FROM {pairs}
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM {pairs}
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r
    )"""


@register(
    "er_match_clusters",
    oracle=f"""
    WITH RECURSIVE {_ER_RECS_SQL},
    {_reach_duck("pairs")}
    SELECT node AS id, MIN(r) AS cluster_id, (MIN(r) = node) AS is_golden
    FROM reach GROUP BY node
    """,
)
def er_match_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12b — transitive entity clustering: matched pairs close under
    connectivity (min-reachable-id label, the shared
    ``connected_components``), so the (sub, swp) variant pair — pairwise
    distance 3, never a direct edge — still lands in the same 4-record
    entity cluster. ``is_golden`` marks
    the cluster representative (min id = the uncorrupted source, because
    variant offsets exceed every real key). Oracle: recursive-CTE
    transitive closure (the dedup_minhash_verified precedent)."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        connected_components,
    )

    pairs = blocked_match_pairs(
        # size-gated: bounded variants checkpointed, corpus base lazy
        # (the er_blocked_match rationale)
        er_records_gated(load(spark, sf_dir, "customer")),
        on_oversized="error",
    ).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    return connected_components(pairs).select(
        "id",
        "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_golden"),
    )


@register(
    "er_golden_record",
    oracle=f"""
    WITH RECURSIVE {_ER_RECS_SQL},
    {_reach_duck("pairs")},
    clusters AS (
        SELECT node AS id, MIN(r) AS cluster_id FROM reach GROUP BY node
    )
    SELECT c.cluster_id,
           MAX(CASE WHEN c.id = c.cluster_id THEN r.name END) AS golden_name,
           COUNT(*) AS n_members,
           COUNT(DISTINCT r.name) AS n_name_variants
    FROM clusters c JOIN recs r ON r.id = c.id
    GROUP BY c.cluster_id
    """,
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12c — survivorship: each entity cluster elects its golden record
    (the cluster representative's name) and reports member/variant
    counts — the MDM "merge" step that follows linkage. One broadcast
    join from the (small, duplicate-rate-bounded) cluster map back to the
    record table, then a map-side-combined per-cluster rollup."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        connected_components,
    )

    # size-gated: feeds the match pipeline AND the survivorship
    # join-back — bounded variants checkpointed, corpus base lazy
    recs = er_records_gated(load(spark, sf_dir, "customer"))
    pairs = blocked_match_pairs(recs, on_oversized="error").select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    clusters = connected_components(pairs)
    return (
        F.broadcast(clusters)
        .join(recs, "id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.when(F.col("id") == F.col("cluster_id"), F.col("name"))
            ).alias("golden_name"),
            F.count(F.lit(1)).alias("n_members"),
            F.count_distinct("name").alias("n_name_variants"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-field records, multi-pass blocking, weighted (Fellegi–Sunter) match
# ---------------------------------------------------------------------------

#: Fourth corruption class (round 9): tail-APPEND — name || 'x'. Appending
#: keeps variants injective across sources (any single-position tail
#: substitution would collapse serial names differing only in that digit),
#: BREAKS the suffix blocking key (right(name, 6) shifts), and leaves the
#: phone field intact — the class the single-key suffix pass structurally
#: misses and the phone pass recovers.
ER_OFF_TAIL = 1_100_000

#: Weighted-match acceptance threshold (integer Fellegi–Sunter-shape score,
#: see er_weighted_match). 10 admits the high-agreement pairs and rejects
#: pairs whose field evidence disagrees even when the name distance alone
#: would have passed the pure-lev rule.
ER_MATCH_THRESHOLD = 10

#: Deterministic synthetic phone (the fixture has no c_phone column):
#: multiplicative mixing by a prime coprime to 10^8 keeps it unique per
#: custkey (< 10^8) while not being literally the key. Identical
#: construction on both engines, so the field is hash-exact.
_PHONE_SQL = "'P' || LPAD(CAST((c_custkey * 7919) % 100000000 AS VARCHAR), 8, '0')"

#: Multi-field corrupted-variant UNION shared by the multipass/weighted
#: oracles: prefix-name variants (sub/del/swp) additionally corrupt the
#: phone (|| 'x'), the swp variant also corrupts the nation (+1 mod 25),
#: and the tail variant corrupts ONLY the name tail — so every blocking
#: pass and every score field has a class that exercises it.
_ER_RECS_MF_SQL = f"""
    recs AS (
        SELECT c_custkey AS id, c_name AS name,
               {_PHONE_SQL} AS phone, c_nationkey AS nk
        FROM customer
        UNION ALL
        SELECT c_custkey + {ER_OFF_SUB},
               SUBSTR(c_name, 1, 5) || 'n' || SUBSTR(c_name, 7),
               {_PHONE_SQL} || 'x', c_nationkey
        FROM customer WHERE c_custkey < {ER_N_SOURCES}
        UNION ALL
        SELECT c_custkey + {ER_OFF_DEL},
               SUBSTR(c_name, 1, 3) || SUBSTR(c_name, 5),
               {_PHONE_SQL} || 'x', c_nationkey
        FROM customer WHERE c_custkey < {ER_N_SOURCES}
        UNION ALL
        SELECT c_custkey + {ER_OFF_SWP},
               SUBSTR(c_name, 1, 1) || SUBSTR(c_name, 3, 1)
                 || SUBSTR(c_name, 2, 1) || SUBSTR(c_name, 4),
               {_PHONE_SQL} || 'x', (c_nationkey + 1) % 25
        FROM customer WHERE c_custkey < {ER_N_SOURCES}
        UNION ALL
        SELECT c_custkey + {ER_OFF_TAIL}, c_name || 'x',
               {_PHONE_SQL}, c_nationkey
        FROM customer WHERE c_custkey < {ER_N_SOURCES}
    )"""


def _phone_col() -> F.Column:
    return F.concat(
        F.lit("P"),
        F.lpad(
            ((F.col("c_custkey") * 7919) % 100_000_000).cast("string"), 8, "0"
        ),
    )


def _er_base_mf(cust: DataFrame) -> DataFrame:
    """The corpus-scale branch of :func:`er_records_mf`."""
    return _assert_ids_below_offsets(
        cust.select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            _phone_col().alias("phone"),
            F.col("c_nationkey").alias("nk"),
        )
    )


def _er_variants_mf(cust: DataFrame) -> DataFrame:
    """The BOUNDED branch of :func:`er_records_mf`: the four injected
    variants per source key — 4 × ER_N_SOURCES rows, corpus-independent."""
    src = cust.filter(F.col("c_custkey") < ER_N_SOURCES)
    badphone = F.concat(_phone_col(), F.lit("x"))
    sub = src.select(
        (F.col("c_custkey") + ER_OFF_SUB).alias("id"),
        F.concat(
            F.substring("c_name", 1, 5), F.lit("n"), F.substring("c_name", 7, 100)
        ).alias("name"),
        badphone.alias("phone"),
        F.col("c_nationkey").alias("nk"),
    )
    dele = src.select(
        (F.col("c_custkey") + ER_OFF_DEL).alias("id"),
        F.concat(
            F.substring("c_name", 1, 3), F.substring("c_name", 5, 100)
        ).alias("name"),
        badphone.alias("phone"),
        F.col("c_nationkey").alias("nk"),
    )
    swp = src.select(
        (F.col("c_custkey") + ER_OFF_SWP).alias("id"),
        F.concat(
            F.substring("c_name", 1, 1),
            F.substring("c_name", 3, 1),
            F.substring("c_name", 2, 1),
            F.substring("c_name", 4, 100),
        ).alias("name"),
        badphone.alias("phone"),
        ((F.col("c_nationkey") + 1) % 25).alias("nk"),
    )
    tail = src.select(
        (F.col("c_custkey") + ER_OFF_TAIL).alias("id"),
        F.concat(F.col("c_name"), F.lit("x")).alias("name"),
        _phone_col().alias("phone"),
        F.col("c_nationkey").alias("nk"),
    )
    return sub.unionByName(dele).unionByName(swp).unionByName(tail)


def er_records_mf(cust: DataFrame) -> DataFrame:
    """(id, name, phone, nk): the multi-field twin of ``er_records`` —
    full customer table plus FOUR injected variants per source key whose
    corruptions are split across fields (the Spark twin of
    ``_ER_RECS_MF_SQL``)."""
    return _er_base_mf(cust).unionByName(_er_variants_mf(cust))


def er_records_mf_gated(cust: DataFrame) -> DataFrame:
    """:func:`er_records_mf` with the size-gated materialization —
    bounded variants branch checkpointed, corpus-scale base left lazy
    (the :func:`er_records_gated` rationale verbatim)."""
    return _er_base_mf(cust).unionByName(
        _er_variants_mf(cust).localCheckpoint(eager=True)
    )


def block_pass_candidates(
    recs: DataFrame,
    block_expr: str,
    max_block_size: int | None = ER_MAX_BLOCK,
    on_oversized: str = "drop",
) -> DataFrame:
    """(id_a, id_b) candidate ids from ONE blocking pass on an arbitrary
    key expression — the slim half of a multi-pass pipeline: only (id,
    bkey) rows enter the per-block self-join shuffle; callers join the id
    pairs back to the record table for field comparison (so N passes cost
    N slim shuffles, never N copies of the wide records). Cap semantics
    identical to ``blocked_match_pairs`` (``_cap_blocks``)."""
    keyed = _cap_blocks(
        recs.select("id", F.expr(block_expr).alias("bkey")),
        max_block_size,
        on_oversized,
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return a.join(
        b,
        (F.col("b.bkey") == F.col("a.bkey")) & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))


def multipass_candidates(
    recs: DataFrame,
    block_exprs: tuple[str, ...] = ("right(name, 6)", "phone"),
    max_block_size: int | None = ER_MAX_BLOCK,
    on_oversized: str = "drop",
) -> DataFrame:
    """(id_a, id_b) — union of independent blocking passes, deduplicated.
    Multi-pass blocking is the standard recall fix for single-key
    blocking: a record whose corruption hits the field a key is built
    from evades THAT pass but is recovered by any pass keyed on an
    untouched field (the ``dedup_sorted_neighborhood`` multi-pass
    precedent). Each pass is independently capped, so one hot key in one
    field cannot go quadratic."""
    out: DataFrame | None = None
    for expr in block_exprs:
        p = block_pass_candidates(recs, expr, max_block_size, on_oversized)
        out = p if out is None else out.unionByName(p)
    assert out is not None
    return out.dropDuplicates(["id_a", "id_b"])


@register(
    "er_multipass_match",
    oracle=f"""
    WITH {_ER_RECS_MF_SQL},
    ka AS (SELECT id, name, RIGHT(name, 6) AS k FROM recs),
    pa AS (
        SELECT a.id AS id_a, b.id AS id_b,
               LEVENSHTEIN(a.name, b.name) AS lev
        FROM ka a JOIN ka b ON b.k = a.k AND a.id < b.id
        WHERE LEVENSHTEIN(a.name, b.name) <= {ER_MAX_LEV}
    ),
    pb AS (
        SELECT a.id AS id_a, b.id AS id_b,
               LEVENSHTEIN(a.name, b.name) AS lev
        FROM recs a JOIN recs b ON b.phone = a.phone AND a.id < b.id
        WHERE LEVENSHTEIN(a.name, b.name) <= {ER_MAX_LEV}
    )
    SELECT id_a, id_b, lev FROM pa
    UNION
    SELECT id_a, id_b, lev FROM pb
    """,
)
def er_multipass_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12d — multi-pass blocking: pass 1 keys on the name suffix, pass 2
    on the phone field; candidate unions are deduplicated and verified
    with exact Levenshtein on the name. The tail-append variant breaks
    the suffix key but keeps its phone (recovered by pass 2 only:
    + (src, tail) at lev 1), while the prefix variants corrupt the phone
    but keep the suffix (recovered by pass 1) — six edges per injected
    group where the single-pass query finds five, and a record must
    corrupt BOTH fields to evade blocking entirely. ``on_oversized=
    "error"``: uncapped oracle ⇒ exact-or-fail caps on every pass."""
    # size-gated (r16): feeds both blocking passes and the verify
    # join-back — bounded variants checkpointed, corpus base lazy
    recs = er_records_mf_gated(load(spark, sf_dir, "customer"))
    cands = multipass_candidates(recs, on_oversized="error")
    ra = recs.select(F.col("id").alias("id_a"), F.col("name").alias("__na"))
    rb = recs.select(F.col("id").alias("id_b"), F.col("name").alias("__nb"))
    return (
        cands.join(ra, "id_a")
        .join(rb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("__na"), F.col("__nb")).alias("lev"),
        )
        .filter(F.col("lev") <= ER_MAX_LEV)
    )


def weighted_match_pairs(
    recs: DataFrame, threshold: int = ER_MATCH_THRESHOLD
) -> DataFrame:
    """(id_a, id_b, lev, score) — multipass-blocked candidates scored with
    the integer Fellegi-Sunter-shape agreement weights (name lev band
    +10/+6/+3/-5, phone +4/-2, nation +2/-3) and accepted at
    ``score >= threshold``. The shared match stage behind
    ``er_weighted_match`` and ``er_weighted_clusters``; oracle-checked
    callers pass error-mode-capped candidates via the default."""
    cands = multipass_candidates(recs, on_oversized="error")
    ra = recs.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("__na"),
        F.col("phone").alias("__pa"),
        F.col("nk").alias("__ka"),
    )
    rb = recs.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("__nb"),
        F.col("phone").alias("__pb"),
        F.col("nk").alias("__kb"),
    )
    lev = F.levenshtein(F.col("__na"), F.col("__nb"))
    score = (
        F.when(F.col("lev") <= 1, 10)
        .when(F.col("lev") == 2, 6)
        .when(F.col("lev") == 3, 3)
        .otherwise(-5)
        + F.when(F.col("__pa") == F.col("__pb"), 4).otherwise(-2)
        + F.when(F.col("__ka") == F.col("__kb"), 2).otherwise(-3)
    )
    return (
        cands.join(ra, "id_a")
        .join(rb, "id_b")
        .withColumn("lev", lev)
        .withColumn("score", score)
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "lev", "score")
    )


#: Weighted-match CTE chain (blocking passes -> union -> scored ->
#: threshold-accepted ``wpairs``), appended after ``_ER_RECS_MF_SQL`` and
#: shared by the er_weighted_match / er_weighted_clusters oracles.
_ER_WEIGHTED_PAIRS_SQL = f"""
    ka AS (SELECT id, RIGHT(name, 6) AS k FROM recs),
    cand AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM ka a JOIN ka b ON b.k = a.k AND a.id < b.id
        UNION
        SELECT a.id AS id_a, b.id AS id_b
        FROM recs a JOIN recs b ON b.phone = a.phone AND a.id < b.id
    ),
    scored AS (
        SELECT id_a, id_b, lev,
               (CASE WHEN lev <= 1 THEN 10 WHEN lev = 2 THEN 6
                     WHEN lev = 3 THEN 3 ELSE -5 END
                + CASE WHEN phone_a = phone_b THEN 4 ELSE -2 END
                + CASE WHEN nk_a = nk_b THEN 2 ELSE -3 END) AS score
        FROM (
            SELECT c.id_a, c.id_b,
                   LEVENSHTEIN(ra.name, rb.name) AS lev,
                   ra.phone AS phone_a, rb.phone AS phone_b,
                   ra.nk AS nk_a, rb.nk AS nk_b
            FROM cand c
            JOIN recs ra ON ra.id = c.id_a
            JOIN recs rb ON rb.id = c.id_b
        )
    ),
    wpairs AS (
        SELECT id_a, id_b, lev, score FROM scored
        WHERE score >= {ER_MATCH_THRESHOLD}
    )"""


@register(
    "er_weighted_match",
    oracle=f"""
    WITH {_ER_RECS_MF_SQL},
    {_ER_WEIGHTED_PAIRS_SQL}
    SELECT id_a, id_b, lev, score FROM wpairs
    """,
)
def er_weighted_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12e — weighted multi-field match (Fellegi–Sunter-shape, integer
    agreement weights so the score is hash-exact): every blocked
    candidate pair is scored across THREE fields — name edit distance
    (+10 / +6 / +3 / −5 by lev band), phone equality (+4 / −2), nation
    equality (+2 / −3) — and accepted at score ≥ ER_MATCH_THRESHOLD.
    Unlike the pure-lev rule, corroborating fields rescue borderline
    names and disagreeing fields veto them: (del, swp) passes the lev ≤ 2
    rule but is REJECTED here (6 + 4 − 3 = 7 — the swp variant's nation
    corruption vetoes), while (src, tail) at full field agreement scores
    16. Candidates come from the same two capped blocking passes as
    er_multipass_match; no lev pre-filter — the weighted score IS the
    decision rule."""
    recs = er_records_mf_gated(load(spark, sf_dir, "customer"))
    return weighted_match_pairs(recs)


@register(
    "er_weighted_clusters",
    oracle=f"""
    WITH RECURSIVE {_ER_RECS_MF_SQL},
    {_ER_WEIGHTED_PAIRS_SQL},
    {_reach_duck("wpairs")}
    SELECT node AS id, MIN(r) AS cluster_id, (MIN(r) = node) AS is_golden
    FROM reach GROUP BY node
    """,
)
def er_weighted_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12f — the weighted pipeline closed end-to-end: transitive
    clustering over the WEIGHTED matches instead of the pure-lev ones.
    The observable difference from ``er_match_clusters``: the
    nation-corrupted swp variant has NO accepted edge (every pair it
    touches is vetoed by field disagreement — src 1, sub 4, del 7, all
    below threshold), so each entity cluster is the 4-record
    {src, sub, del, tail} set and swp is QUARANTINED (absent from the
    edge-connected output) rather than merged — linkage conservatism a
    pure edit-distance rule cannot express. Oracle: the shared weighted
    CTE chain + recursive-CTE closure."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        connected_components,
    )

    recs = er_records_mf_gated(load(spark, sf_dir, "customer"))
    pairs = weighted_match_pairs(recs).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    return connected_components(pairs).select(
        "id",
        "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_golden"),
    )


#: Fifth corruption class, used ONLY by the incremental-assign fixture: a
#: record corrupted in BOTH blocked fields (name tail append 'q' AND phone
#: append 'x') — evades every blocking pass by construction, so it must
#: surface as a NEW entity rather than silently joining a cluster.
ER_OFF_LOST = 1_200_000

#: Arg-min encoding base for deterministic best-match selection:
#: enc = lev * ER_ENC + registry_id, minimized — picks lowest lev, then
#: lowest registry id on ties, in ONE integer aggregate (no window, no
#: engine-specific arg_min tie semantics). Valid while registry ids stay
#: below ER_ENC.
ER_ENC = 10_000_000


@register(
    "er_incremental_assign",
    oracle=f"""
    WITH {_ER_RECS_MF_SQL},
    batch AS (
        SELECT id, name, phone FROM recs WHERE id >= {ER_OFF_SUB}
        UNION ALL
        SELECT c_custkey + {ER_OFF_LOST}, c_name || 'q',
               {_PHONE_SQL} || 'x'
        FROM customer WHERE c_custkey < {ER_N_SOURCES}
    ),
    registry AS (
        SELECT id, name, phone FROM recs WHERE id < {ER_OFF_SUB}
    ),
    ca AS (
        SELECT b.id, r.id AS rid,
               CAST(LEVENSHTEIN(b.name, r.name) AS BIGINT) AS lev
        FROM batch b JOIN registry r
          ON RIGHT(r.name, 6) = RIGHT(b.name, 6)
    ),
    cb AS (
        SELECT b.id, r.id AS rid,
               CAST(LEVENSHTEIN(b.name, r.name) AS BIGINT) AS lev
        FROM batch b JOIN registry r ON r.phone = b.phone
    ),
    cand AS (
        SELECT DISTINCT id, rid, lev
        FROM (SELECT * FROM ca UNION ALL SELECT * FROM cb)
        WHERE lev <= {ER_MAX_LEV}
    ),
    enc AS (
        SELECT id, CAST(MIN(lev * {ER_ENC} + rid) AS BIGINT) AS e
        FROM cand GROUP BY id
    )
    SELECT b.id,
           COALESCE(e % {ER_ENC}, b.id) AS assigned_cluster,
           COALESCE(e // {ER_ENC}, -1) AS lev,
           e IS NULL AS is_new
    FROM batch b LEFT JOIN enc ON enc.id = b.id
    """,
)
def er_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H12g — incremental entity assignment: a NEW batch of records is
    matched against an EXISTING registry (batch × registry blocked joins,
    never a registry self-join — the cost of an incremental tick scales
    with the batch, not the registry; the ``dedup_minhash_incremental``
    shape applied to record linkage). Each batch record gets its best
    registry match (lowest Levenshtein, then lowest registry id, chosen
    by one integer arg-min encoding — no window) or becomes a NEW entity
    when no blocking pass surfaces a within-threshold candidate. The
    fixture's fifth variant corrupts BOTH blocked fields and therefore
    must come out ``is_new`` — blocking evasion is an observable outcome,
    not a silent miss. ``lev`` is -1 for new entities (sentinel, keeps
    the column non-null on both engines).

    Scale shape: two slim batch×registry equi joins on block keys (the
    registry side is the big one — partitioned/bucketed on the block key
    in production, so each tick touches only matching blocks), one
    map-side-combined arg-min aggregate on the batch cardinality, one
    left join back to the batch."""
    cust = load(spark, sf_dir, "customer")
    src = cust.filter(F.col("c_custkey") < ER_N_SOURCES)
    lost = src.select(
        (F.col("c_custkey") + ER_OFF_LOST).alias("id"),
        F.concat(F.col("c_name"), F.lit("q")).alias("name"),
        F.concat(_phone_col(), F.lit("x")).alias("phone"),
    )
    # size-gated (r16): the batch IS the bounded variants branch (every
    # variant id >= ER_OFF_SUB, every base id asserted below it) plus the
    # lost rows — 5 × ER_N_SOURCES rows, checkpointed once for both
    # passes + the final join; the corpus-scale registry (= the base
    # branch) stays a lazy pruned scan instead of the r15 full-union
    # checkpoint that materialized a corpus copy to pick 4·N rows out
    batch = (
        _er_variants_mf(cust)
        .select("id", "name", "phone")
        .unionByName(lost)
        .localCheckpoint(eager=True)
    )
    registry = _er_base_mf(cust).select("id", "name", "phone")

    cands = None
    for key in (f"right(name, 6)", "phone"):
        bb = batch.select(
            "id", F.expr(key).alias("bkey"), F.col("name").alias("__bn")
        )
        rb = registry.select(
            F.col("id").alias("rid"),
            F.expr(key).alias("bkey"),
            F.col("name").alias("__rn"),
        )
        p = bb.join(rb, "bkey").select(
            "id",
            "rid",
            F.levenshtein("__bn", "__rn").cast("long").alias("lev"),
        )
        cands = p if cands is None else cands.unionByName(p)
    cands = cands.filter(F.col("lev") <= ER_MAX_LEV).dropDuplicates(
        ["id", "rid"]
    )
    enc = cands.groupBy("id").agg(
        F.min(F.col("lev") * ER_ENC + F.col("rid")).alias("e")
    )
    return batch.join(enc, "id", "left").select(
        "id",
        F.coalesce(F.col("e") % ER_ENC, F.col("id")).alias(
            "assigned_cluster"
        ),
        F.coalesce(F.expr(f"e div {ER_ENC}"), F.lit(-1).cast("long")).alias(
            "lev"
        ),
        F.col("e").isNull().alias("is_new"),
    )
