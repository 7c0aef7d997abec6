"""Text-analysis operators (operators/text_analysis.py): the driver-side BPE
merge loop against the distributed per-round form it replaced, and the
document-length quantiles against a Python reference; the single-pass
BLEU/ROUGE clip counts and diversity metrics against the join forms they
replaced; keyness LLR against a Python recount, and the language-id
confusion matrix as a partition of the corpus."""

from __future__ import annotations

from avro_parquet_spark_example_spark.registry import get_query
from tests._refs import _type1


def test_bpe_driver_replay_identical_to_distributed_rounds(spark, sf_dir):
    """The r16 driver-side BPE merge loop must reproduce the distributed
    per-round form bit-for-bit: same pair counts (exact integers), same
    (count desc, pair) argmax, same left-to-right non-overlapping string
    REPLACE — asserted by replaying ONE distributed round in Spark and
    comparing its top pair against the driver loop's first merge."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.operators.text_analysis import (
        BPE_MAX_DOC,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    got = get_query("text_bpe_train").fn(spark, sf_dir).collect()
    assert [r.step for r in got] == list(range(1, len(got) + 1))
    first = next(r for r in got if r.step == 1)
    top = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BPE_MAX_DOC)
        .select(
            F.split(
                F.trim(
                    F.concat(
                        F.lit(" "),
                        F.array_join(
                            F.split(
                                F.replace(
                                    F.lower(F.trim(F.col("text"))),
                                    F.lit(" "),
                                    F.lit("_"),
                                ),
                                "",
                            ),
                            " ",
                        ),
                        F.lit(" "),
                    )
                ),
                " ",
            ).alias("ws")
        )
        .select(
            F.explode(
                F.expr(
                    "filter(transform(ws, (x, i) -> IF(i < size(ws) - 1, "
                    "struct(x AS pa, ws[i + 1] AS pb), NULL)), "
                    "v -> v IS NOT NULL)"
                )
            ).alias("p")
        )
        .groupBy("p.pa", "p.pb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pa", "pb")
        .limit(1)
        .collect()[0]
    )
    assert (first.left_sym, first.right_sym, first.cnt) == (
        top.pa,
        top.pb,
        top.cnt,
    )


def test_doclen_quantiles_match_python_reference(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    by_lang: dict[str, list[int]] = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append(int(r.n_chars))
    for xs in by_lang.values():
        xs.sort()
    rows = {
        r.lang: r
        for r in get_query("text_doclen_quantiles").fn(spark, sf_dir).collect()
    }
    assert set(rows) == set(by_lang)
    for lang, xs in by_lang.items():
        r = rows[lang]
        assert r.n == len(xs)
        for q in (25, 50, 75, 90):
            assert r[f"p{q}"] == _type1(xs, q), (lang, q)


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


def test_langid_confusion_matrix_consistency(spark, sf_dir):
    """Confusion matrix is a complete partition of the corpus: shares per
    gold language sum to 1, n sums to the document count, and the fr/zh
    coverage gap is visible (no marker set -> zero diagonal mass)."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.registry import get_query

    rows = get_query("eval_langid_confusion").fn(spark, sf_dir).collect()
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    )
    assert sum(r.n for r in rows) == n_docs
    by_gold: dict[str, float] = {}
    for r in rows:
        by_gold[r.lang] = by_gold.get(r.lang, 0.0) + r.share
    for lang, s in by_gold.items():
        assert abs(s - 1.0) < 1e-4, (lang, s)
    # fr/zh have no marker set: the heuristic can never predict them
    assert not any(r.pred_lang in ("fr", "zh") for r in rows)


def test_keyness_llr_matches_python_reference(spark, sf_dir):
    """LLR re-derives (±1e-5) from a pure-Python recount of the token
    split, is non-negative, and the direction flag matches exact rate
    comparison."""
    import math

    from avro_parquet_spark_example_spark.registry import get_query

    rows = get_query("text_keyness_llr").fn(spark, sf_dir).collect()
    assert rows, "fixture vocabulary clears the min-count floor"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    k1: dict[str, int] = {}
    k2: dict[str, int] = {}
    for d in docs:
        if d.text is None:
            continue
        for t in d.text.strip().lower().split(" "):
            side = k1 if d.lang == "en" else k2
            side[t] = side.get(t, 0) + 1
    n1, n2 = sum(k1.values()), sum(k2.values())

    def ll(k, n, ktot):
        return 0.0 if k == 0 else k * math.log(k * (n1 + n2) / (n * ktot))

    for r in rows:
        a, b = k1.get(r.term, 0), k2.get(r.term, 0)
        assert (a, b) == (r.focus_count, r.ref_count), r.term
        want = 2.0 * (ll(a, n1, a + b) + ll(b, n2, a + b))
        assert abs(r.llr - want) < 1e-5, (r.term, r.llr, want)
        assert r.llr >= -1e-9, "LLR is a likelihood RATIO — never negative"
        assert r.overused_in == ("focus" if a * n2 > b * n1 else "reference")
