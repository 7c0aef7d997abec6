"""Sampling scope visible in output: the capped bootstrap and randomization
fixtures report whether they sampled their input.

The three keys are inference operators, so this test belongs in
``test_inference_ops.py``; it stays under its own file name until the last
part of the round-file regroup moves it with the other leftovers.
"""

from __future__ import annotations

import pytest

from avro_parquet_spark_example_spark.registry import get_query


# --------------------------------------------------------------------------
# sampling scope visible in output (ADVICE r13 #1)
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "key",
    [
        "stat_poisson_bootstrap_ci",
        "stat_randomization_dow",
        "eval_auc_bootstrap_ci",
    ],
)
def test_capped_fixtures_emit_sampled_flag(spark, sf_dir, key):
    df = get_query(key).fn(spark, sf_dir)
    assert "sampled" in df.columns
    vals = {r.sampled for r in df.select("sampled").distinct().collect()}
    # sf0.001 fixtures sit far below both caps -> flag must be False
    assert vals == {False}
