"""Text-analysis operators (operators/text_analysis.py): the driver-side BPE
merge loop against the distributed per-round form it replaced, and the
document-length quantiles against a Python reference."""

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
