"""Feature-engineering invariants beyond the oracle hash: the normal-
equation moments must actually solve to a least-squares fit (residuals
orthogonal to every feature), and the LOO encode must reconstruct the
group totals while provably excluding each row's own target."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.operators.features import OLS_DIMS, decision_stump
from avro_parquet_spark_example_spark.registry import get_query
from tests._refs import _frame


def _gram(spark, sf_dir):
    rows = get_query("ml_normal_equations").fn(spark, sf_dir).collect()
    d = OLS_DIMS + 2  # intercept + dims + y
    g = np.zeros((d, d))
    n = rows[0].n
    for r in rows:
        g[r.i, r.j] = r.moment
        g[r.j, r.i] = r.moment
    return g, n


def test_normal_equations_solve_to_least_squares(spark, sf_dir):
    """β from the emitted moments satisfies the normal equations, and the
    implied residuals are orthogonal to every feature (the defining OLS
    property) — checked against a direct numpy lstsq on the raw data."""
    g, n = _gram(spark, sf_dir)
    k = OLS_DIMS + 1
    xtx, xty = g[:k, :k], g[:k, k]
    beta = np.linalg.solve(xtx, xty)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    X = np.array(
        [[1.0] + [np.floor(float(v) * 1e7) / 1e7 for v in r.embedding[:OLS_DIMS]]
         for r in emb]
    )
    y = np.array([float(r.label) for r in emb])
    beta_ref = np.linalg.lstsq(X, y, rcond=None)[0]
    assert n == len(emb)
    assert np.allclose(beta, beta_ref, atol=1e-5), (beta, beta_ref)
    # residual orthogonality straight from the moments: Xᵀy − XᵀXβ = 0
    assert np.allclose(xty - xtx @ beta, 0, atol=1e-6)


def test_gram_is_positive_semidefinite(spark, sf_dir):
    g, _ = _gram(spark, sf_dir)
    eig = np.linalg.eigvalsh(g)
    assert eig.min() > -1e-6, eig


def test_target_encode_loo_excludes_own_row(spark, sf_dir):
    """For every row: loo_sum = group_sum − own_cents and loo_n =
    group_n − 1 (recomputed from raw data), and the integer mean is the
    half-up quotient."""
    rows = get_query("ml_target_encode_loo").fn(spark, sf_dir).collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    c = {
        r.c_custkey: r.c_nationkey
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    cents = {}
    gsum: dict[int, int] = {}
    gn: dict[int, int] = {}
    for r in o:
        nat = c[r.o_custkey]
        v = int(round(r.o_totalprice * 100))
        cents[r.o_orderkey] = (nat, v)
        gsum[nat] = gsum.get(nat, 0) + v
        gn[nat] = gn.get(nat, 0) + 1
    assert len(rows) == len(o)
    for r in rows:
        nat, own = cents[r.o_orderkey]
        assert r.nation == nat
        assert r.loo_sum_cents == gsum[nat] - own
        assert r.loo_n == gn[nat] - 1
        if r.loo_n > 0:
            want = (r.loo_sum_cents * 200 + r.loo_n) // (2 * r.loo_n)
            assert r.loo_mean_centicents == want
        else:
            assert r.loo_mean_centicents is None


def test_target_encode_loo_group_identity(spark, sf_dir):
    """Summing (loo_sum + own) over a group gives n × group_sum — i.e.
    each row excluded exactly its own contribution, nothing else."""
    df = get_query("ml_target_encode_loo").fn(spark, sf_dir)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("own"),
    )
    j = df.join(o, "o_orderkey")
    agg = (
        j.groupBy("nation")
        .agg(
            F.sum(F.col("loo_sum_cents") + F.col("own")).alias("lhs"),
            F.count(F.lit(1)).alias("n"),
            F.sum("own").alias("s"),
        )
        .collect()
    )
    for r in agg:
        assert r.lhs == r.n * r.s


# ---------------------------------------------------------------------------
# ml_naive_bayes_model / ml_feature_hashing


def test_naive_bayes_model_classifies_training_corpus(spark, sf_dir):
    """Building the Laplace-smoothed classifier from the emitted
    statistics reproduces the corpus labels far above chance — i.e. the
    statistics really are the model."""
    import math

    rows = get_query("ml_naive_bayes_model").fn(spark, sf_dir).collect()
    vocab = rows[0].vocab
    cls_tokens = {r.lang: r.class_tokens for r in rows}
    cls_docs = {r.lang: r.class_docs for r in rows}
    n_docs = sum(cls_docs.values())
    logp = {
        (r.lang, r.tok): math.log((r.cnt + 1) / (r.class_tokens + vocab))
        for r in rows
    }

    def score(lang, toks):
        s = math.log(cls_docs[lang] / n_docs)
        for t in toks:
            s += logp.get(
                (lang, t),
                math.log(1 / (cls_tokens[lang] + vocab)),
            )
        return s

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    hits = 0
    for d in docs:
        toks = d.text.strip().lower().split(" ")
        pred = max(cls_docs, key=lambda g: score(g, toks))
        hits += pred == d.lang
    # the synthetic corpus' lang labels are only weakly text-dependent;
    # "the statistics are a working model" = beats the majority-class
    # baseline, the strongest text-blind predictor
    majority = max(cls_docs.values()) / n_docs
    assert hits / len(docs) > majority, (hits, len(docs), majority)


def test_naive_bayes_counts_are_consistent(spark, sf_dir):
    """Σ cnt over a class == class_tokens; vocab == |distinct toks|."""
    rows = get_query("ml_naive_bayes_model").fn(spark, sf_dir).collect()
    per_class: dict[str, int] = {}
    toks = set()
    for r in rows:
        per_class[r.lang] = per_class.get(r.lang, 0) + r.cnt
        toks.add(r.tok)
    for r in rows:
        assert per_class[r.lang] == r.class_tokens
        assert r.vocab == len(toks)


def test_feature_hashing_reconstructs_from_shingles(spark, sf_dir):
    """Each doc's hashed vector equals a Python recount through the same
    md5 bucket/sign derivation, and the fixture genuinely collides
    (some bucket holds >1 distinct shingle)."""
    import hashlib

    from avro_parquet_spark_example_spark.operators.features import (
        HASH_BUCKETS,
    )

    got: dict[tuple, int] = {
        (r.doc_id, r.bucket): r.feature
        for r in get_query("ml_feature_hashing").fn(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    want: dict[tuple, int] = {}
    bucket_tokens: dict[int, set] = {}
    for d in docs:
        ws = d.text.strip().lower().split(" ")
        for i in range(len(ws) - 1):
            tok = f"{ws[i]} {ws[i + 1]}"
            h = hashlib.md5(tok.encode()).hexdigest()
            b = int(h[:8], 16) % HASH_BUCKETS
            s = 1 if int(h[8], 16) % 2 == 0 else -1
            want[(d.doc_id, b)] = want.get((d.doc_id, b), 0) + s
            bucket_tokens.setdefault(b, set()).add(tok)
    assert got == want
    assert any(len(v) > 1 for v in bucket_tokens.values()), (
        "fixture must exercise collisions"
    )


# ---------------------------------------------------------------------------
# ml_linreg_gd


def _gd_fixture(spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    X = np.array(
        [
            [1.0]
            + [np.floor(float(v) * 1e7) / 1e7 for v in r.embedding[:OLS_DIMS]]
            for r in emb
        ]
    )
    y = np.array([float(r.label % 2) for r in emb])
    return X, y


def test_linreg_gd_tracks_float_descent(spark, sf_dir):
    """The fixed-point trajectory matches float batch GD to within the
    accumulated quantization (1e-4 per coefficient after 3 rounds)."""
    import numpy as np

    rows = get_query("ml_linreg_gd").fn(spark, sf_dir).collect()
    beta7 = {r.j: r.beta7 for r in rows}
    X, y = _gd_fixture(spark, sf_dir)
    n = len(y)
    assert rows[0].n == n
    b = np.zeros(X.shape[1])
    for _ in range(3):
        b = b - (X.T @ (X @ b - y)) / (4 * n)
    for j in range(X.shape[1]):
        assert abs(beta7[j] / 1e7 - b[j]) < 1e-4, (j, beta7[j] / 1e7, b[j])


def test_linreg_gd_loss_decreases(spark, sf_dir):
    """Replaying the exact integer updates in Python, the quadratic loss
    strictly decreases each round (η = 1/4 is inside the stable region
    for these features)."""
    import numpy as np

    X, y = _gd_fixture(spark, sf_dir)
    n = len(y)
    b = np.zeros(X.shape[1])
    losses = [float(((X @ b - y) ** 2).mean())]
    for _ in range(3):
        b = b - (X.T @ (X @ b - y)) / (4 * n)
        losses.append(float(((X @ b - y) ** 2).mean()))
    assert all(a > b_ for a, b_ in zip(losses, losses[1:])), losses


def test_decision_stump_perfect_separation(spark):
    # feature < 5 -> negative, >= 5 -> positive: splitting at 4 recovers
    # the full root entropy as gain and is marked best
    rows = [(float(v), v >= 5) for v in range(10) for _ in range(4)]
    vals = _frame(spark, rows, "v double, is_ref boolean")
    out = {r.threshold: r for r in decision_stump(vals).collect()}
    n, p = 40, 20
    h_root = -(0.5 * math.log(0.5) + 0.5 * math.log(0.5))
    best = [r for r in out.values() if r.is_best]
    assert len(best) == 1 and best[0].threshold == 4.0
    assert best[0].gain12 == math.floor(h_root * 1e12)
    # every non-separating candidate strictly underperforms
    assert all(
        r.gain12 < best[0].gain12 for r in out.values() if r.threshold != 4.0
    )
