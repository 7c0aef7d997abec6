"""Degenerate-margin pins from the registry-wide ANSI sweep (inference,
timeseries and facade library forms), the scaled LSH density dial, and the
single-pass BLEU/ROUGE clip counts and diversity metrics against the join
forms they replaced."""

from __future__ import annotations

import math

import pytest


# --------------------------------------------------------------------------
# r15 registry-wide ANSI sweep (REVIEW_r15_stats.md §older families):
# seven PRE-r14 library forms crashed on the same degenerate margins —
# including two whose REVIEW_r14 entries claimed "NULL on both engines
# (probed)" (cuped, krippendorff: that claim was WRONG under ANSI).
# --------------------------------------------------------------------------


def test_cuped_constant_covariate(spark):
    from avro_parquet_spark_example_spark.operators.inference import cuped

    r = cuped(
        spark.createDataFrame([(7, y) for y in range(10)], "x long, y long")
    ).collect()[0]
    assert r.theta is None and r.var_y_adj is None
    assert r.var_reduction_pct is None
    assert r.mean_y is not None and r.var_y is not None  # still defined


def test_agreement_single_category(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        fleiss_kappa,
        krippendorff_alpha,
    )

    ratings = spark.createDataFrame(
        [(i, "x") for i in range(6) for _ in range(3)],
        "item int, category string",
    )
    fk = fleiss_kappa(ratings, "item", "category", 3).collect()[0]
    assert fk.p_bar == 1.0 and fk.p_e == 1.0 and fk.kappa is None
    ka = krippendorff_alpha(ratings, "item", "category", 3).collect()[0]
    assert ka.d_o == 0.0 and ka.alpha is None


def test_two_sample_degenerates(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        effect_sizes,
        power_mde,
    )

    allequal = spark.createDataFrame(
        [("a", w, 5) for w in (0, 1) for _ in range(5)],
        "event_type string, wk int, q long",
    )
    es = effect_sizes(allequal).collect()[0]
    assert es.cohens_d is None and es.hedges_g is None
    assert es.cliffs_delta == 0.0  # ties -> exactly no dominance
    empty = spark.createDataFrame(
        [("a", 0, v) for v in range(5)], "event_type string, wk int, q long"
    )
    assert effect_sizes(empty).collect()[0].cohens_d is None
    pm = power_mde(empty).collect()[0]
    assert pm.pooled_sd is None and pm.mde_abs is None
    zero = spark.createDataFrame(
        [("a", w, 0) for w in (0, 1) for _ in range(5)],
        "event_type string, wk int, q long",
    )
    pz = power_mde(zero).collect()[0]
    assert pz.mde_abs == 0.0 and pz.mde_rel is None  # zero-mean metric


def test_delong_kendall_degenerates(spark):
    from avro_parquet_spark_example_spark.operators.inference import (
        auc_delong_se,
        kendall_w,
    )

    one_class = auc_delong_se(
        spark.createDataFrame([(v, 0) for v in range(5)], "v long, pos int")
    ).collect()[0]
    assert one_class.auc is None and one_class.se_delong is None
    one_pos = auc_delong_se(
        spark.createDataFrame(
            [(5, 1)] + [(v, 0) for v in range(5)], "v long, pos int"
        )
    ).collect()[0]
    assert one_pos.auc == 1.0  # AUC defined at np = 1...
    assert one_pos.se_delong is None  # ...but its variance df is 0
    kw = kendall_w(
        spark.createDataFrame(
            [(j, 1, 5) for j in range(3)], "judge int, item int, cnt long"
        )
    ).collect()[0]
    assert kw.w is None and kw.chi2 is None and kw.rejected is False


# --------------------------------------------------------------------------
# r15 ANSI sweep, timeseries family: seven more library forms crashed on
# degenerate series (REVIEW_r15_stats.md §timeseries)
# --------------------------------------------------------------------------


def test_ts_degenerate_margins(spark):
    import datetime

    from avro_parquet_spark_example_spark.operators import timeseries as ts

    D = datetime.date
    days = [D(2024, 1, 1) + datetime.timedelta(days=i) for i in range(6)]
    const = spark.createDataFrame(
        [("k", d, 5) for d in days], "k string, day date, x long"
    )

    # ANOVA: single group level / zero within-group variance -> NULL F
    single = ts.anova_oneway(
        spark.createDataFrame(
            [("s", "g", 5), ("s", "g", 7), ("s", "g", 9)],
            "seg string, grp string, v long",
        ),
        "seg", "grp", "v",
    ).collect()[0]
    assert single.k == 1 and single.f_stat is None
    zw = ts.anova_oneway(
        spark.createDataFrame(
            [("s", "a", 5), ("s", "a", 5), ("s", "b", 9), ("s", "b", 9)],
            "seg string, grp string, v long",
        ),
        "seg", "grp", "v",
    ).collect()[0]
    assert zw.f_stat is None  # perfect separation: within-SS exactly 0

    # constant series: every ACF lag and every xcorr lag undefined
    assert all(
        r.acf is None for r in ts.autocorr(const, "k", "day", "x").collect()
    )
    lagg = spark.createDataFrame(
        [(d, i) for i, d in enumerate(days)], "day date, x long"
    )
    lead = spark.createDataFrame(
        [(d, 5) for d in days], "day date, x long"
    )
    assert all(
        r.xcorr is None
        for r in ts.lead_lag_xcorr(lead, lagg, max_lag=1).collect()
    )

    # zero-total series: Fano variance-to-mean undefined
    fz = ts.fano_factor(
        spark.createDataFrame([("k", 0)] * 6, "k string, x long"), "k", "x"
    ).collect()[0]
    assert fz.mean_daily == 0.0 and fz.fano is None

    # constant series: MASE scale 0 -> NULL; MAPE/sMAPE exact 0
    bc = ts.forecast_backtest(const, "k", "day", "x", season=2).collect()[0]
    assert (bc.mae, bc.mape, bc.smape, bc.mase) == (0.0, 0.0, 0.0, None)
    # all-zero series: MAPE undefined (zero actuals), sMAPE 0 by the
    # both-zero convention, MASE still NULL
    bz = ts.forecast_backtest(
        spark.createDataFrame(
            [("k", d, 0) for d in days], "k string, day date, x long"
        ),
        "k", "day", "x", season=2,
    ).collect()[0]
    assert bz.mape is None and bz.smape == 0.0 and bz.mase is None

    # 2-day series over 3 segments: single-day segments get NULL slope
    pw = ts.piecewise_trend(
        spark.createDataFrame(
            [("k", days[0], 5), ("k", days[1], 6)],
            "k string, day date, x long",
        ),
        "k", "day", "x", segments=3,
    ).collect()
    assert all(r.slope is None for r in pw if r.n_days == 1)


# --------------------------------------------------------------------------
# r15 ANSI sweep, aggregate/graph/eval facade surface: seven more fixed
# (REVIEW_r15_stats.md §facade)
# --------------------------------------------------------------------------


def test_facade_degenerate_margins(spark):
    from avro_parquet_spark_example_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir="/root/testdata/sf0.001")

    hz = eng.hhi(
        spark.createDataFrame(
            [("g", i, 0) for i in range(4)], "g string, m int, amt long"
        ),
        "g", "amt",
    ).collect()[0]
    assert hz.hhi is None and hz.hhi12 is None

    cv = eng.cramers_v(
        spark.createDataFrame([("x1", "y1")] * 10, "x string, y string"),
        "x", "y",
    ).collect()[0]
    assert cv.chi2 == 0.0 and cv.cramers_v is None

    # 4-cycle: every endpoint degree 2 -> excess-degree variance 0
    ar = eng.assortativity(
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 1)], "u long, v long"
        )
    ).collect()[0]
    assert ar.assortativity is None

    conf1 = spark.createDataFrame(
        [("a", "a", 10)], "true_label string, pred_label string, n long"
    )
    kp = eng.kappa(conf1).collect()[0]
    assert kp.observed_agreement == 1.0 and kp.kappa is None  # p_e = 1
    assert eng.mcc(conf1).collect()[0].mcc is None  # one-class margins

    # zero-game duel catalog: MM update has no information -> uniform
    # strengths survive instead of a driver-side ZeroDivisionError
    bt = eng.bradley_terry(
        spark.createDataFrame([("a", "a", 0)], "i string, j string, nij long")
    ).collect()[0]
    assert bt.games == 0 and bt.pi9 == 10**9

    ac = eng.auc_bootstrap_cell(
        spark.createDataFrame([(v, 0) for v in range(5)], "v long, pos int")
    ).collect()[0]
    assert ac.auc is None and ac.ci_lo is None and ac.ci_hi is None


# --------------------------------------------------------------------------
# scaled_lsh_bits — the LSH density dial (x100 ANN program finding)
# --------------------------------------------------------------------------


def test_scaled_lsh_bits_dial():
    from avro_parquet_spark_example_spark.operators.simsearch import (
        K_BITS,
        scaled_lsh_bits,
    )

    assert scaled_lsh_bits(2000, 2000) == K_BITS
    assert scaled_lsh_bits(1000, 2000) == K_BITS  # never below reference
    # x100 corpus: K grows by log2(100) ~ 6.64 -> +7
    assert scaled_lsh_bits(200_000, 2000) == K_BITS + 7
    # constant occupancy invariant: n / 2^K within a factor 2 of reference
    for n in (2000, 20_000, 200_000, 2_000_000):
        k = scaled_lsh_bits(n, 2000)
        occ = n / 2**k
        ref_occ = 2000 / 2**K_BITS
        assert ref_occ / 2 <= occ <= ref_occ * 2
    with pytest.raises(ValueError):
        scaled_lsh_bits(0, 2000)


def test_lsh_table_keys_scaled_k_roundtrip(spark):
    # the parameterized key builder must produce L keys whose low k bits
    # vary and whose table tag rides the high bits, for non-default k
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.operators.simsearch import (
        L_TABLES,
        hyperplanes,
        lsh_table_keys,
        multiprobe_keys,
    )

    k = 8
    planes = hyperplanes(n_planes=L_TABLES * k)
    df = spark.createDataFrame(
        [(i, [math.sin(i * 64 + d) for d in range(64)]) for i in range(20)],
        "vec_id int, embedding array<float>",
    )
    keys = df.select(
        F.explode(lsh_table_keys(F.col("embedding"), planes, k=k)).alias("key")
    )
    rows = [r["key"] for r in keys.collect()]
    assert len(rows) == 20 * L_TABLES
    tables = {r >> 32 for r in rows}
    assert tables == set(range(L_TABLES))
    assert all(0 <= (r & 0xFFFFFFFF) < 2**k for r in rows)
    # multiprobe at k flips: k+1 distinct probes per table
    probes = df.limit(1).select(
        F.explode(
            multiprobe_keys(
                lsh_table_keys(F.col("embedding"), planes, k=k), k_bits=k
            )
        ).alias("p")
    )
    assert probes.distinct().count() == L_TABLES * (k + 1)


def test_ngram_clip_counts_matches_join_form_semantics(spark):
    """Pin the r15 tagged-union clip rewrite (§7, OPTIMIZATION_r15.md) to
    the OLD double-inner-join semantics on the cases the fixtures never
    exercise:

    * one-sided tokens contribute 0, never a negative/phantom match;
    * a lang with unigram matches but NO co-occurring bigram is DROPPED
      (the old clip(2) inner join produced no row for it), including the
      all-NULL conditional-sum case where no bigram rows exist at all;
    * clipping uses min(count_cand, count_ref) per token.
    """
    from avro_parquet_spark_example_spark.operators.text_analysis import (
        _ngram_clip_counts,
    )

    pairs = spark.createDataFrame(
        [
            # lang 'a': cand has 'x' twice / ref once (clip -> 1);
            # bigram 'x x' co-occurs once -> kept, m1=1+1(y), m2=1
            ("a", 1, "x x y", "x y z"),
            # lang 'b': unigram match ('x') but the two bigrams are
            # disjoint ('x p' vs 'x q') -> old clip(2) join empty ->
            # lang dropped entirely
            ("b", 1, "x p", "x q"),
            # lang 'c': single-word texts -> NO bigram rows at all
            # (all-NULL conditional sum) -> dropped
            ("c", 1, "x", "x"),
            # lang 'd': no shared tokens at all -> m1=0 -> dropped
            ("d", 1, "p p", "q q"),
        ],
        "lang string, doc_id int, cand string, ref string",
    )
    out = {r["lang"]: r for r in _ngram_clip_counts(pairs).collect()}
    assert set(out) == {"a"}
    assert out["a"]["m1"] == 2  # min(2,1) for 'x' + min(1,1) for 'y'
    assert out["a"]["m2"] == 1  # 'x x' bigram co-occurs min(1,1)


def test_ngram_clip_plan_has_no_token_join(spark, sf_dir):
    """The §7 rewrite's plan pin: the BLEU/ROUGE clip machinery must not
    reintroduce the per-token (lang, doc_id, tok) joins — the only joins
    left are the two broadcast lens+clips attachments on the lang key
    (plan census: 14 -> 6 Exchanges, 8 -> 2 BHJ per consumer)."""
    import re

    from avro_parquet_spark_example_spark.registry import get_query

    for name in ("eval_bleu_corpus", "eval_rouge_n"):
        df = get_query(name).fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "SortMergeJoin" not in plan, name
        assert len(re.findall(r"BroadcastHashJoin", plan)) <= 2, name
        assert len(re.findall(r"\bExchange\b", plan)) <= 6, name


def test_text_diversity_single_pass_matches_join_form_semantics(spark):
    """Pin the r15 tagged-union rewrite of text_diversity_metrics' core
    to the OLD docs⋈uni⋈bi inner-join semantics on degenerate langs the
    fixtures never exercise: a lang whose docs are all single words has
    no bigrams (dropped), a lang with only NULL text has no tokens
    (dropped), and n_docs counts NULL-text docs for surviving langs."""
    from avro_parquet_spark_example_spark.operators import text_analysis
    from avro_parquet_spark_example_spark.sources import catalog
    import avro_parquet_spark_example_spark.operators.text_analysis as ta

    docs = spark.createDataFrame(
        [
            ("en", 1, "a b a"),      # tokens 3, bigrams 2 ('a b','b a')
            ("en", 2, None),          # counted in n_docs, no tokens
            ("solo", 3, "x"),         # 1-word docs only -> no bigrams
            ("nul", 4, None),         # all-NULL text -> no tokens
        ],
        "lang string, doc_id int, text string",
    )
    orig = catalog.load
    try:
        catalog.load = lambda spark, sf_dir, name: docs
        ta.load = catalog.load
        out = {r["lang"]: r for r in
               ta.text_diversity_metrics(spark, "ignored").collect()}
    finally:
        catalog.load = orig
        ta.load = orig
    assert set(out) == {"en"}
    r = out["en"]
    assert (r["n_docs"], r["n_tokens"], r["distinct_unigrams"]) == (2, 3, 2)
    assert r["distinct_bigrams"] == 2
    assert r["distinct_bigram_ratio"] == 1.0  # 2 distinct / 2 bigrams
