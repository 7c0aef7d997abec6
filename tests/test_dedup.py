"""Property tests for the dedup operators over literal fixtures
(FIXTURES.md §3): idempotence, near-dup recall, fingerprint locality,
connected-components correctness, and pHash recall of injected copies."""

from __future__ import annotations

from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import get_query

from avro_parquet_spark_example_spark.operators.dedup import (
    connected_components,
    minhash_candidate_pairs,
    simhash64,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees outside"
)


def _neardup_docs(spark):
    """6 docs: 0/1 differ by one token, 2/3 differ by two tokens, 4/5 unrelated."""
    rows = [
        (0, BASE),
        (1, BASE.replace("quick", "swift")),
        (2, BASE.replace("lazy dog", "sleepy wolf")),
        (3, BASE),
        (4, "completely different content about distributed query engines and columnar storage formats for analytical workloads at petabyte scale with vectorized execution"),
        (5, "unrelated text describing streaming watermarks state stores checkpoints and exactly once processing semantics in modern dataflow systems"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_idempotent(spark):
    rows = [(i, t) for i, t in enumerate(["a b c", "A b C ", " a b c", "x y", "x y", "z"])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    key = F.sha2(F.lower(F.trim("text")), 256)
    dedup1 = df.withColumn("k", key).dropDuplicates(["k"]).drop("k")
    dedup2 = dedup1.withColumn("k", key).dropDuplicates(["k"]).drop("k")
    assert dedup1.count() == 3  # {a b c}, {x y}, {z}
    assert sorted(r.doc_id for r in dedup1.collect()) == sorted(
        r.doc_id for r in dedup2.collect()
    )


def test_minhash_pairs_find_neardups_not_unrelated(spark):
    pairs = minhash_candidate_pairs(_neardup_docs(spark), sim_threshold=0.5)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got  # 1-token edit
    assert (0, 3) in got  # exact copy
    assert (1, 3) in got
    assert not any(4 in p or 5 in p for p in got)  # unrelated docs never pair


def test_minhash_identical_docs_estimate_1(spark):
    df = spark.createDataFrame([(0, BASE), (1, BASE)], ["doc_id", "text"])
    [row] = minhash_candidate_pairs(df, sim_threshold=0.99).collect()
    assert (row.a, row.b) == (0, 1)
    assert row.est_jaccard == 1.0


def test_shingles_and_simhash_locality(spark):
    df = _neardup_docs(spark).select(
        "doc_id",
        F.size(word_shingles(F.col("text"))).alias("n_shingles"),
        simhash64(F.col("text")).alias("fp"),
    )
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[0].n_shingles > 10
    assert rows[0].fp == rows[3].fp  # identical text → identical fingerprint
    # near-dup fingerprints are close in hamming distance, unrelated far
    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(rows[0].fp, rows[1].fp) <= 12
    assert hamming(rows[0].fp, rows[4].fp) > 12


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 plus island pair 10-11: one cluster each, min-id labels.
    # local_threshold=0 forces the distributed min-label loop; the default
    # takes the driver union-find fast path — both must agree.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["a", "b"]
    )
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    for threshold in (0, None):
        kwargs = {} if threshold is None else {"local_threshold": threshold}
        labels = {
            r.id: r.cluster_id
            for r in connected_components(edges, **kwargs).collect()
        }
        assert labels == expect, f"local_threshold={threshold}"


def test_minhash_lsh_query_end_to_end(spark, sf_dir):
    from avro_parquet_spark_example_spark.registry import get_query

    clusters = get_query("dedup_minhash_lsh").fn(spark, sf_dir).collect()
    assert len(clusters) >= 40  # 50 injected duplicates → ≥40 surviving clusters
    for row in clusters:
        members = [int(m) for m in row.member_ids.split(",")]
        # every injected duplicate (id ≥ 100000) clusters with its original
        for m in members:
            if m >= 100000:
                assert (m - 100000) in members
        assert row.cluster_id == min(members)


def test_lsh_candidates_cover_all_true_pairs(spark):
    """Precondition for dedup_minhash_verified's hash-equality contract
    (ADVICE r3, hardened r5): the oracle computes exact Jaccard over all
    pairs in the injected universe (doc_id < 50 or >= 100000) while the
    Spark side verifies only LSH candidates, so the two agree iff LSH
    banding surfaces EVERY true >=0.7 pair in that universe as a candidate.
    The universe is ~100 docs regardless of SF, so this check is EXHAUSTIVE
    (every pair's exact Jaccard on the DuckDB side) — no future fixture can
    introduce a borderline universe pair that LSH misses without failing
    HERE with the pair's ids, rather than as an opaque value-hash mismatch
    in the driver gate. Candidate generation still runs over the FULL
    corpus (same as the query), so banding recall over real data is what's
    being sampled — only the equality contract is scoped."""
    import duckdb

    from avro_parquet_spark_example_spark.operators.dedup import (
        minhash_candidate_pairs,
        with_injected_duplicates,
        word_shingles,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    truth_sql = """
    WITH pool AS (
        SELECT doc_id, text FROM read_parquet('{path}')
        UNION ALL
        SELECT doc_id + 100000, text FROM read_parquet('{path}')
        WHERE doc_id < 50
    ),
    docs AS (
        SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS toks
        FROM pool WHERE text IS NOT NULL
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 2), ' ') AS s
        FROM docs,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks) - 2, 1))) AS t(i)
        WHERE doc_id < 50 OR doc_id >= 100000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a, b FROM common
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.7
    """
    for sf in ("sf0.001", "sf0.01"):
        sf_dir = f"/root/testdata/{sf}"
        path = f"{sf_dir}/documents.parquet"
        truth = {
            (min(a, b), max(a, b))
            for a, b in duckdb.connect().execute(
                truth_sql.format(path=path)
            ).fetchall()
        }
        docs = with_injected_duplicates(
            load(spark, sf_dir, "documents").select("doc_id", "text")
        )
        from avro_parquet_spark_example_spark.operators.dedup import (
            in_injected_universe,
        )

        cands = minhash_candidate_pairs(docs, sim_threshold=0.5).filter(
            in_injected_universe("a") & in_injected_universe("b")
        )
        sh = docs.filter(F.col("text").isNotNull()).select(
            F.col("doc_id").alias("id"), word_shingles(F.col("text")).alias("sh")
        )
        true_j = F.size(F.array_intersect("sa.sh", "sb.sh")) * 1.0 / F.size(
            F.array_union("sa.sh", "sb.sh")
        )
        verified = {
            (min(r.a, r.b), max(r.a, r.b))
            for r in (
                cands.join(sh.alias("sa"), F.col("a") == F.col("sa.id"))
                .join(sh.alias("sb"), F.col("b") == F.col("sb.id"))
                .filter(true_j >= 0.7)
                .select("a", "b")
                .collect()
            )
        }
        missed = truth - verified
        assert not missed, f"{sf}: LSH missed true pairs {sorted(missed)[:10]}"
        extra = verified - truth
        assert not extra, f"{sf}: spark found non-true pairs {sorted(extra)[:10]}"


def test_shingle_and_signature_paths_identical(spark, sf_dir):
    """The fast corpus paths (NGram shingles, hash-once-then-derive
    signatures) must produce byte-identical values to the per-row Column
    forms — otherwise the oracle contract and the HOF helpers drift apart.
    Includes a doc shorter than the shingle width (partial-shingle
    fallback) and a two-token doc."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures_df,
        with_shingles,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "one two"),
            (3, "single"),
            (4, "x y z"),
        ],
        ["doc_id", "text"],
    )
    hof = {r.doc_id: r.sh for r in docs.select(
        "doc_id", word_shingles(F.col("text")).alias("sh")).collect()}
    fast = {r.doc_id: r.sh for r in with_shingles(docs).select(
        "doc_id", "sh").collect()}
    assert hof == fast

    sig_hof = {r.doc_id: r.sig for r in docs.select(
        "doc_id", minhash_signature(word_shingles(F.col("text"))).alias("sig")
    ).collect()}
    sig_fast = {r.id: r.sig for r in minhash_signatures_df(docs).collect()}
    assert sig_hof == sig_fast


def test_substring_spans_cover_injected_copies(spark, sf_dir):
    """An injected full-document copy (doc_id+100000) must yield exactly one
    merged span covering all its windows: [0, n_tokens). Original docs with
    no earlier duplicate text yield no span for their first occurrence."""
    from avro_parquet_spark_example_spark.operators.dedup import SUBSTR_K
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    spans = {}
    for r in get_query("dedup_substring_spans").fn(spark, sf_dir).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    n_toks = {
        r.doc_id: r.n
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("n"))
        .collect()
    }
    copies_checked = 0
    for doc_id, n in n_toks.items():
        if doc_id < 50 and n >= SUBSTR_K:
            copy_id = doc_id + 100000
            assert spans.get(copy_id) == [(0, n)], (
                f"copy {copy_id}: {spans.get(copy_id)} != [(0, {n})]"
            )
            copies_checked += 1
    assert copies_checked >= 40


def test_semantic_cell_drop_properties(spark, sf_dir):
    """dedup_semantic_cell: every dropped vector defers to a LOWER-id
    vector in the SAME sign-bit cell with true cosine >= 0.35 — re-verified
    here against the raw embeddings (the oracle checks cross-engine
    equality; this pins the semantic contract independent of the oracle)."""
    import math

    from avro_parquet_spark_example_spark.registry import all_queries

    dropped = {
        r["vec_id"]: (r["cell"], r["kept_for"])
        for r in all_queries()["dedup_semantic_cell"](spark, sf_dir).collect()
    }
    assert dropped, "fixture should produce at least one semantic duplicate"
    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def cell_of(v):
        return sum((1 << i) for i in range(6) if v[i] > 0)

    for vec_id, (cell, kept_for) in dropped.items():
        assert kept_for < vec_id
        assert cell_of(emb[vec_id]) == cell == cell_of(emb[kept_for])
        dot = sum(float(x) * float(y) for x, y in zip(emb[vec_id], emb[kept_for]))
        assert dot >= 0.35 - 1e-9
        assert not math.isnan(dot)


def test_dsir_favors_target_language(spark, sf_dir):
    """curation_dsir_importance: the importance ratio must rank the target
    domain ABOVE every off-target language — the fixture's languages share
    most of their vocabulary (per-doc scores are near zero), so the
    monotone property is rate/mean dominance, not high-precision
    selection."""
    from collections import defaultdict

    from avro_parquet_spark_example_spark.registry import all_queries

    selected = all_queries()["curation_dsir_importance"](spark, sf_dir).collect()
    assert selected
    assert all(r["avg_log_ratio"] > 0 for r in selected)

    sel_by_lang: dict[str, int] = defaultdict(int)
    for r in selected:
        sel_by_lang[r["lang"]] += 1
    totals = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rate = {lang: sel_by_lang.get(lang, 0) / n for lang, n in totals.items()}
    assert all(
        rate["en"] > rate[lang] for lang in totals if lang != "en"
    ), f"target selection rate must dominate: {rate}"


def test_minhash_clusters_collapse_exact_equivalent(spark, sf_dir):
    """minhash_clusters(collapse_exact=True) must produce EXACTLY the same
    components as the direct form — identical text implies identical
    signatures, so collapsing exact copies changes no candidate or
    verification decision. Checked on the corpus with injected copies
    (guaranteed exact-dup groups present)."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        minhash_clusters,
        with_injected_duplicates,
    )

    docs = with_injected_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    direct = {
        (r.id, r.cluster_id)
        for r in minhash_clusters(docs, collapse_exact=False).collect()
    }
    collapsed = {
        (r.id, r.cluster_id)
        for r in minhash_clusters(docs, collapse_exact=True).collect()
    }
    assert direct == collapsed and collapsed


def test_sorted_neighborhood_finds_all_injected_pairs(spark, sf_dir):
    """Non-vacuity for the SNM operator: the (text-prefix, length, id)
    blocking key must place EVERY injected exact copy within the w=2
    neighborhood of its original, so all 50 (original, +100000 copy)
    pairs surface with Jaccard 1.0. Misses here mean the blocking key
    regressed (the documented SNM failure mode)."""
    from avro_parquet_spark_example_spark.registry import get_query

    rows = get_query("dedup_sorted_neighborhood").fn(spark, sf_dir).collect()
    found = {
        (min(r.doc_id, r.nbr_id), max(r.doc_id, r.nbr_id))
        for r in rows
        if r.jaccard == 1.0
    }
    n_src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 50)
        .count()
    )
    expected = {(i, i + 100000) for i in range(n_src)}
    assert expected <= found, sorted(expected - found)[:5]


def test_containment_finds_all_truncated_copies(spark, sf_dir):
    """Every injected truncated copy (first half of doc_id<25's tokens)
    is by construction fully contained in its source: all 25 (source,
    +200000) pairs must surface at containment 1.0 — while their Jaccard
    is ≈0.5, i.e. BELOW near-dup thresholds, which is the whole reason
    this operator exists."""
    from avro_parquet_spark_example_spark.registry import get_query

    rows = get_query("neardup_containment").fn(spark, sf_dir).collect()
    exact = {
        (r.id_a, r.id_b) for r in rows if r.containment == 1.0
    }
    n_src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 25)
        .count()
    )
    expected = {(i, i + 200000) for i in range(n_src)}
    assert expected <= exact, sorted(expected - exact)[:5]


def test_lsh_bucket_cap_bounds_organic_mega_bucket(spark):
    """The 100 TB skew guard (VERDICT-r6 #1): an ORGANIC boilerplate
    mega-bucket — near-identical but NOT exact-identical docs, so the
    exact-dedup pre-stage cannot collapse them — makes the uncapped band
    self-join quadratic (measured OOM at scale, SCALING.md). With
    ``max_bucket_size`` the oversized buckets are dropped BEFORE the
    self-join, so candidate pairs stay bounded by n_buckets · cap²."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        LSH_MAX_BUCKET,
        lsh_band_pairs,
        lsh_oversized_buckets,
        minhash_signatures_df,
    )

    n = 600  # > LSH_MAX_BUCKET so boilerplate buckets are oversized
    boiler = " ".join(f"tok{i % 37}w{i}" for i in range(100))
    rows = [(i, f"{boiler} unique-suffix-{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures_df(docs).localCheckpoint(eager=True)

    oversized = lsh_oversized_buckets(sig).collect()
    assert oversized, "fixture must actually produce >cap buckets"
    assert max(r.bucket_size for r in oversized) > LSH_MAX_BUCKET

    uncapped = lsh_band_pairs(sig, max_bucket_size=None).count()
    capped = lsh_band_pairs(sig).count()
    # quadratic blowup without the cap: ~C(bucket,2) pairs per mega bucket
    assert uncapped > 50_000, uncapped
    # cap drops the mega buckets; what remains is the small-variant tail
    assert capped < uncapped / 10, (capped, uncapped)

    # tightening the cap below every bucket size empties the candidates
    assert lsh_band_pairs(sig, max_bucket_size=1).count() == 0


def test_lsh_bucket_cap_error_mode(spark, sf_dir):
    """``on_oversized="error"`` (used by the oracle-hash-checked
    dedup_minhash_verified, ADVICE r7): a >cap bucket RAISES at execution
    time instead of silently dropping pairs the uncapped DuckDB oracle
    still finds — so whenever the exact-contract query succeeds, its
    output equals the uncapped semantics by construction, on any corpus.
    On the organic fixture (max bucket ≤ 6) the error mode is a no-op
    pass-through producing the identical pair set."""
    import pytest

    from avro_parquet_spark_example_spark.operators.dedup import (
        lsh_band_pairs,
        minhash_signatures_df,
        with_injected_duplicates,
    )

    # mega-bucket corpus: error mode must raise where drop mode drops
    n = 600
    boiler = " ".join(f"tok{i % 37}w{i}" for i in range(100))
    rows = [(i, f"{boiler} unique-suffix-{i}") for i in range(n)]
    sig_big = minhash_signatures_df(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).localCheckpoint(eager=True)
    assert lsh_band_pairs(sig_big).count() >= 0  # drop mode: completes
    with pytest.raises(Exception, match="max_bucket_size"):
        lsh_band_pairs(sig_big, on_oversized="error").count()

    # organic corpus: error mode passes and equals drop mode (no bucket
    # fires, so both equal uncapped — covered by the identity test above)
    docs = with_injected_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
    )
    sig = minhash_signatures_df(docs).localCheckpoint(eager=True)
    strict = {
        (r.a, r.b)
        for r in lsh_band_pairs(sig, on_oversized="error").collect()
    }
    drop = {(r.a, r.b) for r in lsh_band_pairs(sig).collect()}
    assert strict == drop

    with pytest.raises(ValueError, match="drop\\|error"):
        lsh_band_pairs(sig, on_oversized="bogus")


def test_lsh_bucket_cap_identity_on_organic_corpus(spark, sf_dir):
    """At the production default the cap NEVER fires on the organic
    fixture corpora (max observed bucket ≤ 6 across sf0.001–0.1 incl. the
    injected-duplicates universe), so the capped pair set is IDENTICAL to
    the uncapped one — the oracle-checked queries are unaffected by
    default. Guards the default against silently tightening."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        lsh_band_pairs,
        minhash_signatures_df,
        with_injected_duplicates,
    )

    docs = with_injected_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
    )
    sig = minhash_signatures_df(docs).localCheckpoint(eager=True)
    capped = {(r.a, r.b) for r in lsh_band_pairs(sig).collect()}
    uncapped = {
        (r.a, r.b)
        for r in lsh_band_pairs(sig, max_bucket_size=None).collect()
    }
    assert capped == uncapped


def test_lsh_bucket_cap_split_mode(spark):
    """``on_oversized="split"``: oversized buckets are sub-partitioned by
    a band-salted secondary hash instead of dropped — per-task expansion
    stays ~cap² (each sub-bucket ≤ ~cap in expectation) while the
    independent per-band sub-partitions keep recall near-full: a pair
    colliding in all 16 bands at n_sub=3 is missed with probability
    (2/3)^16 ≈ 0.15%. The split pair set must be a strict subset of the
    uncapped one (no invented pairs), far above the drop-mode floor, and
    IDENTICAL to uncapped when no bucket is oversized."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        lsh_band_pairs,
        minhash_signatures_df,
    )

    n = 600  # > LSH_MAX_BUCKET: boilerplate forms oversized buckets
    boiler = " ".join(f"tok{i % 37}w{i}" for i in range(100))
    rows = [(i, f"{boiler} unique-suffix-{i}") for i in range(n)]
    sig = minhash_signatures_df(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).localCheckpoint(eager=True)

    uncapped = {
        (r.a, r.b)
        for r in lsh_band_pairs(sig, max_bucket_size=None).collect()
    }
    split = {
        (r.a, r.b)
        for r in lsh_band_pairs(sig, on_oversized="split").collect()
    }
    dropped = {(r.a, r.b) for r in lsh_band_pairs(sig).collect()}

    assert split <= uncapped  # subset: sub-partitioning never invents pairs
    # near-full recall (≥90% leaves slack for pairs colliding in few bands)
    assert len(split) >= 0.9 * len(uncapped), (len(split), len(uncapped))
    # and far above the drop-mode floor, which loses the mega-buckets
    assert len(split) > 2 * len(dropped), (len(split), len(dropped))

    # cap above every bucket: nothing oversized → n_sub=1 → exact identity
    ident = {
        (r.a, r.b)
        for r in lsh_band_pairs(
            sig, max_bucket_size=100_000, on_oversized="split"
        ).collect()
    }
    assert ident == uncapped

    # ADVICE r8: on_oversized is validated even when the cap is disabled
    import pytest

    with pytest.raises(ValueError, match="drop\\|error"):
        lsh_band_pairs(sig, max_bucket_size=None, on_oversized="bogus")


def test_minhash_clusters_split_passthrough(spark):
    """on_oversized threads through the production composition: on a
    boilerplate mega-bucket corpus (near-identical, NOT exact-identical
    docs — exact collapse can't remove it), drop mode loses the hot
    buckets' pairs while split mode recovers near-full clustering at
    bounded per-task expansion."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        minhash_clusters,
    )

    n = 400
    boiler = " ".join(f"tok{i % 37}w{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique-suffix-{i}") for i in range(n)],
        ["doc_id", "text"],
    )
    # drop: mega-buckets excluded -> few or no merged clusters
    drop_clusters = minhash_clusters(docs, sim_threshold=0.9).collect()
    drop_merged = sum(1 for r in drop_clusters if r.cluster_id != r.id)
    # split: sub-partitioned buckets -> most docs merge into one family
    split_clusters = minhash_clusters(
        docs, sim_threshold=0.9, on_oversized="split"
    ).collect()
    split_merged = sum(1 for r in split_clusters if r.cluster_id != r.id)
    assert split_merged > max(drop_merged * 2, n // 2), (
        drop_merged,
        split_merged,
    )


def test_eval_dedup_pair_metrics_consistency(spark, sf_dir):
    """Confusion-matrix sanity on the injected universe: the 50 exact
    copy pairs are caught by BOTH detectors (tp >= 50), identities
    precision = tp/(tp+fp) and recall = tp/(tp+fn) hold, and recall is
    1.0 — unigram-set similarity can never miss an exact copy that the
    shingle truth contains."""
    from avro_parquet_spark_example_spark.registry import get_query

    r = get_query("eval_dedup_pair_metrics").fn(spark, sf_dir).collect()[0]
    assert r.tp >= 50
    assert r.fn == 0 and r.recall_ == 1.0
    assert abs(r.precision_ - r.tp / (r.tp + r.fp)) < 1e-6
    assert abs(r.f1 - 2 * r.tp / (2 * r.tp + r.fp + r.fn)) < 1e-6


# ---------------------------------------------------------------------------
# neardup_jaccard_prefix_filter


def test_prefix_filter_equals_naive_plan(spark, sf_dir):
    """Prefix-filtered output is bit-identical to the unfiltered
    inverted-index plan — the losslessness claim, checked engine-side
    (the oracle checks it cross-engine)."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        PREFIX_JACCARD_MAX_DOC,
        PREFIX_JACCARD_T,
    )

    got = {
        (r.a, r.b): r.jaccard
        for r in get_query("neardup_jaccard_prefix_filter")
        .fn(spark, sf_dir)
        .collect()
    }
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < PREFIX_JACCARD_MAX_DOC)
        .select("doc_id", "text")
        .collect()
    )
    shingles = {}
    for d in docs:
        ws = d.text.strip().lower().split(" ")
        sh = {f"{ws[i]} {ws[i + 1]}" for i in range(len(ws) - 1)}
        shingles[d.doc_id] = sh
        if d.doc_id < 50:  # the engine-standard injected exact copies
            shingles[d.doc_id + 100000] = set(sh)
    want = {}
    ids = sorted(shingles)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = shingles[a], shingles[b]
            c = len(sa & sb)
            if not c:
                continue
            j = c / (len(sa) + len(sb) - c)
            if j >= PREFIX_JACCARD_T:
                want[(a, b)] = round(j, 6)
    assert got == want
    assert want, "fixture must exercise the threshold"


def test_prefix_filter_candidates_prune(spark, sf_dir):
    """The prefix join's fan-out is strictly smaller than the naive
    inverted-index join's — the operator's reason to exist."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        PREFIX_JACCARD_MAX_DOC,
        PREFIX_JACCARD_T,
    )
    from pyspark.sql import Window

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < PREFIX_JACCARD_MAX_DOC)
        .select("doc_id", "text")
    )
    toks = docs.withColumn(
        "ws", F.split(F.lower(F.trim(F.col("text"))), " ")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "filter(transform(ws, (x, i) -> IF(i < size(ws) - 1, "
                    "concat(x, ' ', ws[i + 1]), NULL)), s -> s IS NOT NULL)"
                )
            )
        ).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("tok"))
    prefix = (
        toks.join(dfreq, "tok")
        .withColumn("r", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(
            F.col("r")
            <= F.col("sz") - F.ceil(F.lit(PREFIX_JACCARD_T) * F.col("sz")) + 1
        )
        .select("doc_id", "tok")
    )

    def fanout(t):
        a, b = t.alias("a"), t.alias("b")
        return a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).count()

    assert fanout(prefix) < fanout(toks) / 2


def test_cluster_size_histogram_matches_python_reference(spark, sf_dir):
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    keys = [r.text.strip().lower() for r in docs]
    keys += [r.text.strip().lower() for r in docs if r.doc_id < 50]
    sizes = Counter(Counter(keys).values())
    got = {
        r.cluster_size: (r.n_clusters, r.n_docs)
        for r in get_query("dedup_cluster_size_histogram")
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == {
        sz: (cnt, sz * cnt) for sz, cnt in sizes.items()
    }
    # conservation law: Σ n_docs == corpus + injected copies
    assert sum(nd for _, nd in got.values()) == len(keys)


# --------------------------------------------------------------------------
# connected_components observability (r14, the x100-leg instrumentation)
# --------------------------------------------------------------------------


def test_cc_observer_local_and_iterative(spark):
    from perfbench.tracing import StatusStore

    from avro_parquet_spark_example_spark.operators import dedup as dd

    # small edge set -> driver union-find: with max_iter=0 no propagation
    # round runs, so only the local path can give full components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    labels = {
        r.id: r.cluster_id
        for r in dd.connected_components(edges, max_iter=0).collect()
    }
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10

    # force the iterative path with a tiny threshold: a diameter-1
    # clique must converge in 2 rounds (1 propagating + 1 confirming),
    # so max_iter=10 runs the jobs of max_iter=2, and more than 1 round's
    clique = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)],
        "a long, b long",
    )
    status = StatusStore(spark)

    def jobs(max_iter):
        labels2 = {
            r.id: r.cluster_id
            for r in dd.connected_components(
                clique, max_iter=max_iter, local_threshold=2
            ).collect()
        }
        assert set(labels2.values()) == {0}
        return len(status.new_jobs())

    assert jobs(1) < jobs(2) == jobs(10)


def test_phash_dedup_catches_all_injected_copies(spark, sf_dir):
    pairs = {
        (r["i"], r["j"])
        for r in get_query("multimodal_phash_dedup").fn(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = {
        r["doc_id"]
        for r in docs.filter(
            F.col("text").isNotNull() & (F.col("doc_id") < 50)
        ).collect()
    }
    for d in injected:
        assert (d, d + 100000) in pairs, f"missing injected pair for {d}"
    # tolerance respected
    for r in get_query("multimodal_phash_dedup").fn(spark, sf_dir).collect():
        assert 0 <= r["hamming"] <= 3
