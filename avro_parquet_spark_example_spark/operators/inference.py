"""Evaluation & inference statistics — resampling, agreement, and
model-eval metrics the SURVEY.md §2 "training-data pipeline" scope needs
beyond the point statistics the aggregate family already ships.

Everything here follows the repo's exactness discipline (SURVEY.md §5):
integer/decimal algebra carried exactly to the last step, ONE IEEE
division/sqrt at the end (identical on both engines), per-item doubles
rounded to a fixed grid and summed as DECIMAL so the total is
order-independent. Unrolled literal expression chains (pass@k products,
bootstrap thresholds) are generated from shared Python constants so the
Spark column tree and the DuckDB oracle parse the same tokens.

Scale notes are per-operator; the common shape is: one map-side-combined
aggregate to per-group sufficient statistics, then grid-sized algebra
(k values, replicate ids, clusters — never row-cardinality) on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Column
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import cents, load, spread

# --------------------------------------------------------------------------
# pass@k (Chen et al. 2021, "Evaluating LLMs Trained on Code", eq. 1)
# --------------------------------------------------------------------------

#: k values reported by eval_pass_at_k. Every per-problem estimator below is
#: an UNROLLED left-to-right product of k exact-int divisions — written out
#: literally (not folded through an aggregate) so the multiplication order
#: is the source text order on BOTH engines and the double result is
#: bit-identical; n ≤ a few hundred keeps every intermediate integer tiny.
_PASS_KS = (1, 5, 10)


def _pass_product_sql(k: int) -> str:
    """1 - prod_{i<k} (n-c-i)/(n-i), the unbiased pass@k estimator, as a
    literal expression string valid in both Spark SQL and DuckDB."""
    prod = " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / CAST(n - {i} AS DOUBLE))"
        for i in range(k)
    )
    return f"CASE WHEN n - c < {k} THEN 1.0 ELSE 1.0 - ({prod}) END"


def _pass_case_sql() -> str:
    arms = " ".join(
        f"WHEN k = {k} THEN ({_pass_product_sql(k)})" for k in _PASS_KS
    )
    return f"CASE {arms} END"


@register(
    "eval_pass_at_k",
    oracle=f"""
    WITH per AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    est AS (
        SELECT k.k, user_id,
               CAST(ROUND({_pass_case_sql()}, 9) AS DECIMAL(18,9)) AS p
        FROM per, (SELECT UNNEST([{", ".join(map(str, _PASS_KS))}]) AS k) k
        WHERE n >= k.k
    )
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n_problems,
           ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS mean_pass
    FROM est GROUP BY k ORDER BY k
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — pass@k, the standard code/LLM eval estimator (Chen et al.
    2021 eq. 1): per problem with n samples of which c pass, the
    unbiased estimator 1 − C(n−c,k)/C(n,k), averaged over problems.
    Fixture: problem = user_id, a "sample passes" = event value > 50
    (every user has n ≥ 45 samples at all SFs, so all three k report
    the full problem set).

    Exactness: the combinatorial ratio is computed as the UNROLLED
    product ∏_{{i<k}} (n−c−i)/(n−i) — k exact-integer subtractions, k
    correctly-rounded IEEE divisions, and a left-to-right double product
    whose order is fixed by the expression text, identical on both
    engines (never lgamma, never a product aggregate, both of which are
    engine-order-dependent); n−c<k short-circuits to exactly 1. The
    per-problem estimate rounds to the 9-digit grid and folds through a
    DECIMAL(18,9) sum (dsum rule) so the corpus mean is
    order-independent; one final division, rounded to 6.

    Scale: one map-side-combined groupBy(user) to (n, c) sufficient
    stats, then a ×|ks|=3 broadcast expansion of the per-problem frame
    and a 3-group fold — no shuffle beyond the first aggregate, no
    per-sample state. At 100 TB the (n, c) aggregate is the whole cost."""
    per = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("value") > 50, 1).otherwise(0))
            .cast("bigint")
            .alias("c"),
        )
    )
    return pass_at_k(per)


def pass_at_k(per: DataFrame) -> DataFrame:
    """(k, n_problems, mean_pass) — the unbiased pass@k estimator over a
    per-problem frame with exact integer columns ``n`` (samples) and
    ``c`` (passing samples); the library form the Engine facade exposes
    (``eval_pass_at_k`` is its registered oracle-checked instance)."""
    ks = F.broadcast(
        per.sparkSession.createDataFrame(
            [(k,) for k in _PASS_KS], "k int"
        )
    )
    est = (
        per.crossJoin(ks)
        .filter(F.col("n") >= F.col("k"))
        .select(
            "k",
            F.round(F.expr(_pass_case_sql()), 9)
            .cast("decimal(18,9)")
            .alias("p"),
        )
    )
    return (
        est.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_problems"),
            F.round(
                F.sum("p").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_pass"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Fleiss' kappa (Fleiss 1971) — inter-annotator agreement
# --------------------------------------------------------------------------

#: Ratings per item used by eval_fleiss_kappa (every user has ≥ 45 events
#: at all SFs, so the first-n window never under-fills an item).
_FLEISS_N = 5

#: DuckDB CTEs shared by the Fleiss and Krippendorff oracles: each user's
#: first _FLEISS_N events (``firstn``) and their per-type counts (``nij``).
_FLEISS_NIJ_DUCK = f"""firstn AS (
        SELECT user_id, event_type
        FROM (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS rn
            FROM events
        ) WHERE rn <= {_FLEISS_N}
    ),
    nij AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS nij
        FROM firstn GROUP BY 1, 2
    )"""


@register(
    "eval_fleiss_kappa",
    oracle=f"""
    WITH {_FLEISS_NIJ_DUCK},
    agree AS (
        SELECT CAST(SUM(nij * nij) AS DECIMAL(38,0))
                 - CAST(COUNT(DISTINCT user_id) AS DECIMAL(38,0))
                     * {_FLEISS_N} AS a,
               CAST(COUNT(DISTINCT user_id) AS DECIMAL(38,0)) AS n_items
        FROM nij
    ),
    cat AS (
        SELECT CAST(SUM(cj * cj) AS DECIMAL(38,0)) AS s
        FROM (SELECT CAST(SUM(nij) AS DECIMAL(19,0)) AS cj
              FROM nij GROUP BY event_type)
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
           {_FLEISS_N} AS n_raters,
           ROUND(CAST(a AS DOUBLE)
                 / CAST(n_items * {_FLEISS_N * (_FLEISS_N - 1)}
                        AS DOUBLE), 6) AS p_bar,
           ROUND(CAST(s AS DOUBLE)
                 / CAST(n_items * n_items * {_FLEISS_N * _FLEISS_N}
                        AS DOUBLE), 6) AS p_e,
           ROUND(CAST(a * n_items * {_FLEISS_N * _FLEISS_N}
                      - {_FLEISS_N * (_FLEISS_N - 1)} * s
                      AS DOUBLE)
                 / CAST({_FLEISS_N * (_FLEISS_N - 1)}
                        * (n_items * n_items * {_FLEISS_N * _FLEISS_N} - s)
                        AS DOUBLE), 6) AS kappa
    FROM agree, cat
    """,
)
def eval_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — Fleiss' kappa (Fleiss 1971): chance-corrected agreement of a
    fixed panel of n raters assigning categorical labels to N items —
    the annotation-QA statistic every human-labeled training set is
    gated on (Cohen's kappa, already shipped, only handles 2 raters).
    Fixture: item = user_id, the item's n=5 "ratings" = the event_type
    of the user's first 5 events by (ts, event_id).

    Exactness: kappa = (P̄−P̄e)/(1−P̄e) is carried as ONE exact integer
    fraction. With A = Σ_i(Σ_j n_ij² − n) (total within-item agreement
    numerator) and S = Σ_j c_j² (squared category totals), the identity
        kappa = (A·N·n² − n(n−1)·S) / (n(n−1)·(N²n² − S))
    clears every denominator, so numerator and denominator are exact
    DECIMAL(38,0) integers on both engines and the single terminal
    division is one correctly-rounded IEEE op (overflow headroom: terms
    are O(N²·n⁴·counts) ≈ 10^17 at sf100 — decimal 38 holds to ~10^37).
    P̄ and P̄e are emitted the same way as audit columns.

    Scale: the first-n window partitions per user (bounded ~100 rows);
    everything after is (user × category)-sized counts folding to one
    row. At 100 TB this is the classic two-aggregate agreement pass."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ratings = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _FLEISS_N)
    return fleiss_kappa(
        ratings, item="user_id", category="event_type", n_raters=_FLEISS_N
    )


def fleiss_kappa(
    ratings: DataFrame, item: str, category: str, n_raters: int
) -> DataFrame:
    """(n_items, n_raters, p_bar, p_e, kappa) — Fleiss' kappa over a
    ratings frame with exactly ``n_raters`` rows per ``item``, each
    carrying a categorical ``category``; the library form the Engine
    facade exposes (``eval_fleiss_kappa`` is its registered
    oracle-checked instance)."""
    n = n_raters
    nij = (
        ratings.select(
            F.col(item).alias("user_id"),
            F.col(category).alias("event_type"),
        )
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nij"))
    )
    agree = nij.agg(
        (
            F.sum(F.col("nij") * F.col("nij")).cast("decimal(38,0)")
            - F.countDistinct("user_id").cast("decimal(38,0)") * F.lit(n)
        ).alias("a"),
        F.countDistinct("user_id").cast("decimal(38,0)").alias("n_items"),
    )
    cat = (
        nij.groupBy("event_type")
        .agg(F.sum("nij").cast("decimal(19,0)").alias("cj"))
        .agg(F.sum(F.col("cj") * F.col("cj")).cast("decimal(38,0)").alias("s"))
    )
    nn1, n2 = n * (n - 1), n * n
    joined = agree.crossJoin(F.broadcast(cat))
    a, ni, s = F.col("a"), F.col("n_items"), F.col("s")
    return joined.select(
        ni.cast("bigint").alias("n_items"),
        F.lit(n).alias("n_raters"),
        F.round(a.cast("double") / (ni * nn1).cast("double"), 6).alias(
            "p_bar"
        ),
        F.round(s.cast("double") / (ni * ni * n2).cast("double"), 6).alias(
            "p_e"
        ),
        # single-category corpus ⇒ p_e = 1 ⇒ the kappa denominator
        # ni²n² − s is exactly 0: κ is undefined (ANSI Spark would
        # throw; DuckDB NULL) — NULL on both engines (r15 ANSI sweep)
        F.when(
            (ni * ni * n2 - s) == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.round(
                (a * ni * n2 - F.lit(nn1) * s).cast("double")
                / (F.lit(nn1) * (ni * ni * n2 - s)).cast("double"),
                6,
            )
        )
        .alias("kappa"),
    )


# --------------------------------------------------------------------------
# Delete-one-cluster jackknife (Efron 1982; cluster-robust SE)
# --------------------------------------------------------------------------


@register(
    "stat_jackknife_cluster",
    oracle="""
    WITH per AS (
        SELECT c.c_nationkey AS g,
               CAST(SUM(CAST(FLOOR(o.o_totalprice * 10000.0 + 0.5)
                             AS BIGINT)) AS DECIMAL(38,0)) AS su,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(su) AS DECIMAL(38,0)) AS ts,
               CAST(SUM(cnt) AS BIGINT) AS tn,
               CAST(COUNT(*) AS BIGINT) AS gcnt
        FROM per
    ),
    loo AS (
        SELECT ROUND(CAST((t.ts - p.su) AS DOUBLE) / 10000.0
                     / (t.tn - p.cnt), 9) AS theta_i, t.gcnt
        FROM per p, tot t
    ),
    jbar AS (
        SELECT ROUND(CAST(SUM(CAST(theta_i AS DECIMAL(18,9))) AS DOUBLE)
                     / MIN(gcnt), 9) AS m, MIN(gcnt) AS gcnt
        FROM loo
    )
    SELECT t.gcnt AS n_clusters,
           ROUND(CAST(t.ts AS DOUBLE) / 10000.0 / t.tn, 6) AS theta_hat,
           ROUND(SQRT(
               CAST(SUM(CAST(ROUND((l.theta_i - j.m)
                                   * (l.theta_i - j.m), 12)
                             AS DECIMAL(28,12))) AS DOUBLE)
               * (t.gcnt - 1) / t.gcnt), 6) AS jackknife_se
    FROM loo l, jbar j, tot t
    GROUP BY t.gcnt, t.ts, t.tn
    """,
)
def stat_jackknife_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — delete-one-CLUSTER jackknife standard error (Efron 1982) of
    a ratio estimator: the mean order price with customers clustered by
    nation — the cluster-robust uncertainty every A/B readout over
    correlated units needs (iid SEs are anti-conservative when rows
    within a nation co-move). θ̂ = ΣS/ΣN; θ_(g) drops cluster g from
    both sums; SE² = (G−1)/G · Σ(θ_(g) − θ̄_J)².

    Exactness: per-cluster price sums quantize through the iusum rule
    (floor(x·10⁴+0.5), exact DECIMAL(38,0) totals), so every θ_(g) is
    two exact integers through one IEEE divide, rounded to the 9-grid;
    the jackknife mean and the squared deviations fold through DECIMAL
    accumulators (12-grid for the squares), making every sum
    order-independent; sqrt and the final ×(G−1)/G happen once.

    Scale: one shuffle to 25 clusters (broadcast dim join feeds it),
    then G-sized algebra — leave-one-out via (total − cluster) needs no
    second pass over rows. The 100 TB cost is the single groupBy."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    per = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("g"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 10000.0 + 0.5).cast(
                    "decimal(38,0)"
                )
            )
            .cast("decimal(38,0)")
            .alias("su"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    return jackknife_ratio_se(per)


def jackknife_ratio_se(per: DataFrame, scale: float = 10000.0) -> DataFrame:
    """(n_clusters, theta_hat, jackknife_se) — delete-one-cluster
    jackknife SE of a ratio estimator from a per-cluster frame with
    exact integer columns ``su`` (iusum-quantized value sum, at
    1/``scale`` units) and ``cnt``; the library form the Engine facade
    exposes (``stat_jackknife_cluster`` is its registered instance)."""
    # per is G rows by contract (one per cluster); materialize once —
    # the lazy form re-planned the corpus join+aggregate through every
    # downstream branch (tot/loo/jbar/final = 8 scans in one plan; r15).
    per = per.localCheckpoint(eager=True)
    tot = per.agg(
        F.sum("su").cast("decimal(38,0)").alias("ts"),
        F.sum("cnt").cast("bigint").alias("tn"),
        F.count(F.lit(1)).cast("bigint").alias("gcnt"),
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        F.round(
            (F.col("ts") - F.col("su")).cast("double")
            / scale
            / (F.col("tn") - F.col("cnt")),
            9,
        ).alias("theta_i"),
        "gcnt",
        "ts",
        "tn",
    )
    jbar = loo.agg(
        F.round(
            F.sum(F.col("theta_i").cast("decimal(18,9)")).cast("double")
            / F.min("gcnt"),
            9,
        ).alias("m")
    )
    dev = loo.crossJoin(F.broadcast(jbar))
    return dev.groupBy("gcnt", "ts", "tn").agg(
        F.round(
            F.sqrt(
                F.sum(
                    F.round(
                        (F.col("theta_i") - F.col("m"))
                        * (F.col("theta_i") - F.col("m")),
                        12,
                    ).cast("decimal(28,12)")
                ).cast("double")
                * (F.col("gcnt") - 1)
                / F.col("gcnt")
            ),
            6,
        ).alias("jackknife_se")
    ).select(
        F.col("gcnt").alias("n_clusters"),
        F.round(F.col("ts").cast("double") / scale / F.col("tn"), 6).alias(
            "theta_hat"
        ),
        "jackknife_se",
    )


# --------------------------------------------------------------------------
# Poisson bootstrap (Chamandy et al. 2012, "Estimating Uncertainty for
# Massive Data Streams" — the distributed bootstrap)
# --------------------------------------------------------------------------

#: Bootstrap replicates. 100 gives a 3rd/98th order-statistic 95% CI.
_BOOT_R = 100

#: 95% CI order-statistic ranks DERIVED from _BOOT_R (ceil(0.025R) /
#: ceil(0.975R), exact integer arithmetic — no float 0.975*R edge):
#: changing _BOOT_R moves the ranks with it on BOTH engines instead of
#: silently NULLing the CI bounds.
_BOOT_LO_RK = -((-25 * _BOOT_R) // 1000)
_BOOT_HI_RK = -((-975 * _BOOT_R) // 1000)

#: Validation-scope row cap for the PER-ROW bootstrap twin
#: (eval_auc_bootstrap_ci): the textbook ×(R+1) row expansion is
#: O(N·R) on both engines, so its input is bounded by a deterministic
#: md5-u32 hash sample (~_BOOT_MAX_ROWS rows, identical on both
#: engines; a no-op when N ≤ the cap, e.g. the sf0.001 fixture). The
#: registered AT-SCALE form is eval_auc_bootstrap_cell_ci, which needs
#: no cap — one draw per (value-cell, replicate).
_BOOT_MAX_ROWS = 30_000

#: Same validation-scope cap for the EVENTS replicate-expansion
#: fixtures (mean bootstrap + randomization/BH family, tag 'es'): each
#: was ~12 s spark / ~20 s oracle at sf0.1 (10M md5 draws). A no-op
#: through sf0.01 (events ≤ 10k rows). The LIBRARY forms
#: (poisson_bootstrap_ci, randomization_pvalues_frame) stay uncapped —
#: for the mean there is no bounded value grid, so R fused streaming
#: passes over the full corpus IS the at-scale plan (Chamandy 2012);
#: the cap bounds only what the VALIDATION fixtures pay per gate run.
_RAND_MAX_ROWS = 30_000


def _events_sample_duck(alias: str) -> str:
    """DuckDB predicate keeping ~_RAND_MAX_ROWS deterministic rows."""
    return (
        f"CAST(('0x' || SUBSTR(MD5(CAST({alias}.event_id AS VARCHAR)"
        f" || ':es'), 1, 8)) AS BIGINT)"
        f" < CAST(4294967296.0 * LEAST(1.0,"
        f" CAST({_RAND_MAX_ROWS} AS DOUBLE) / nr) AS BIGINT)"
    )


def _events_sample_spark(e: DataFrame) -> DataFrame:
    """Spark twin of :func:`_events_sample_duck`: bound ``e`` (must
    carry a bigint ``event_id``) to ~_RAND_MAX_ROWS hash-sampled rows.
    Internal count column is collision-proof ``__nr`` so an input frame
    that already carries ``nr`` (plausible user column) still binds
    correctly."""
    nn = e.agg(F.count(F.lit(1)).cast("bigint").alias("__nr"))
    return (
        e.crossJoin(F.broadcast(nn))
        .filter(
            F.expr(
                "CAST(CONV(SUBSTR(MD5(CONCAT(CAST(event_id AS STRING),"
                " ':es')), 1, 8), 16, 10) AS BIGINT)"
                f" < CAST(4294967296.0 * LEAST(1.0,"
                f" CAST({_RAND_MAX_ROWS} AS DOUBLE) / `__nr`) AS BIGINT)"
            )
        )
        .drop("__nr")
    )

#: floor(CDF_Poisson(1)(i) * 2^32) for i = 0..5 — integer thresholds on the
#: md5-u32 draw; a draw's weight is the count of thresholds it clears, so
#: w ~ Poisson(1) truncated at 6 (P(w>6) < 1e-4; the truncation is part of
#: the operator's definition and identical on both engines). Literal
#: constants shared by the Spark expression and the oracle — no runtime
#: exp() on either engine.
_POIS_T = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
)


def _u32_sql(id_expr: str, tag: str) -> str:
    """md5-u32 draw in [0, 2^32): first 8 hex chars of md5(id:r:tag).
    Valid Spark SQL; the DuckDB twin differs only in hex parsing."""
    return (
        f"CAST(CONV(SUBSTR(MD5(CONCAT(CAST({id_expr} AS STRING), ':', "
        f"CAST(r AS STRING), ':{tag}')), 1, 8), 16, 10) AS BIGINT)"
    )


def _u32_duck(id_expr: str, tag: str) -> str:
    return (
        f"CAST(('0x' || SUBSTR(MD5(CAST({id_expr} AS VARCHAR) || ':' || "
        f"CAST(r AS VARCHAR) || ':{tag}'), 1, 8)) AS BIGINT)"
    )


def _pois_w_sql(u: str) -> str:
    return " + ".join(f"(CASE WHEN {u} >= {t} THEN 1 ELSE 0 END)" for t in _POIS_T)


@register(
    "stat_poisson_bootstrap_ci",
    oracle=f"""
    WITH base0 AS (
        SELECT event_type,
               CAST(event_id AS BIGINT) AS event_id,
               CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS q
        FROM events
    ),
    bn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM base0),
    base AS (
        SELECT b.event_type, b.event_id, b.q FROM base0 b, bn
        WHERE {_events_sample_duck("b")}
    ),
    obs AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(q) AS DECIMAL(38,0)) AS tv
        FROM base GROUP BY 1
    ),
    drawn AS (
        SELECT event_type, r,
               {_pois_w_sql(_u32_duck("event_id", "pb"))} AS w, q
        FROM base, (SELECT UNNEST(GENERATE_SERIES(1, {_BOOT_R})) AS r)
    ),
    rep AS (
        SELECT event_type, r,
               ROUND(CAST(CAST(SUM(CAST(w AS DECIMAL(38,0)) * q)
                               AS DECIMAL(38,0)) AS DOUBLE)
                     / 10000.0 / SUM(w), 9) AS m
        FROM drawn GROUP BY 1, 2 HAVING SUM(w) > 0
    ),
    ranked AS (
        SELECT event_type, m,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY m, r) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS nr
        FROM rep
    )
    SELECT o.event_type, o.n_rows,
           ROUND(CAST(o.tv AS DOUBLE) / 10000.0 / o.n_rows, 6) AS mean_value,
           ROUND(MIN(CASE WHEN rk = CAST(CEIL(0.025 * nr) AS BIGINT)
                          THEN m END), 6) AS ci_lo,
           ROUND(MIN(CASE WHEN rk = CAST(CEIL(0.975 * nr) AS BIGINT)
                          THEN m END), 6) AS ci_hi,
           (SELECT nr > {_RAND_MAX_ROWS} FROM bn) AS sampled
    FROM ranked x JOIN obs o USING (event_type)
    GROUP BY 1, 2, o.tv
    """,
)
def stat_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — POISSON bootstrap 95% CI (Chamandy et al. 2012) for each
    event type's mean value: the bootstrap that actually works on a
    cluster — classical resampling needs n iid draws WITH replacement
    (a global shuffle per replicate), while Poisson(1) per-row weights
    approximate the multinomial exactly in one streaming pass, are
    embarrassingly parallel, and merge across partitions by addition.

    Determinism/exactness: the weight is derived from an md5-u32 draw
    per (row, replicate) against PRECOMPUTED integer CDF thresholds
    (shared literals — no runtime exp, no RNG state), so both engines
    assign bit-identical weights; values quantize through the iusum
    rule into DECIMAL(38,0) weighted sums; each replicate mean is two
    exact integers through IEEE division, rounded to the 9-grid; the CI
    is the 3rd/98th ORDER STATISTIC of the 100 replicate means
    (type-1, replicate-id tiebreak) — selection, not interpolation, so
    no float blending. Empty replicates (impossible at any tested SF,
    P < 1e-600) are dropped identically on both engines via HAVING.

    Scale: the ×R expansion happens map-side and partial-aggregates to
    (types × R) rows before any shuffle; the order-statistic window
    sees R rows per type. At 100 TB the cost is R streaming passes
    fused into one scan — the whole point of the Poisson form. The
    REGISTERED fixture is validation-scoped to a deterministic
    ~30k-row hash sample (_RAND_MAX_ROWS; a no-op through sf0.01) so
    the gate doesn't pay the O(N·R) md5 expansion at every SF; the
    library form below stays uncapped. The ``sampled`` output column
    flags whether the cap was binding (r14, ADVICE: the validation
    scope is visible in the output itself, not only here)."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").cast("bigint").alias("event_id"),
        F.floor(F.col("value") * 10000.0 + 0.5).cast("bigint").alias("q"),
    )
    flag = e.agg(
        (F.count(F.lit(1)) > F.lit(_RAND_MAX_ROWS)).alias("sampled")
    )
    # spread the bounded sample across the session's parallelism before
    # the xR md5 expansion (single-split scan otherwise = one task)
    # localCheckpoint (r15): the core consumes the ~30k-row bounded
    # sample through its obs and ×R drawn branches — the lazy form
    # re-planned the events scan + hash sample 5× in one plan (the
    # randomization-core precedent; the uncapped library form stays
    # lazy).
    return poisson_bootstrap_ci(
        spread(_events_sample_spark(e), width_from=e).localCheckpoint(
            eager=True
        )
    ).crossJoin(
        F.broadcast(flag)
    )


def poisson_bootstrap_ci(
    e: DataFrame, scale: float = 10000.0
) -> DataFrame:
    """(event_type, n_rows, mean_value, ci_lo, ci_hi) — Poisson-
    bootstrap 95% CI for the per-key mean of an iusum-quantized value
    frame (columns: ``event_type`` key, ``event_id`` bigint draw id,
    ``q`` exact integer at 1/``scale`` units); the library form the
    Engine facade exposes (``stat_poisson_bootstrap_ci`` is its
    registered oracle-checked instance)."""
    obs = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("q").cast("decimal(38,0)").alias("tv"),
    )
    drawn = e.withColumn(
        "r", F.explode(F.sequence(F.lit(1), F.lit(_BOOT_R)))
    ).select(
        "event_type",
        "r",
        F.expr(_pois_w_sql(_u32_sql("event_id", "pb"))).alias("w"),
        "q",
    )
    rep = (
        drawn.groupBy("event_type", "r")
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("q"))
            .cast("decimal(38,0)")
            .alias("swv"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "event_type",
            "r",
            F.round(
                F.col("swv").cast("double") / scale / F.col("sw"), 9
            ).alias("m"),
        )
    )
    wrk = Window.partitionBy("event_type").orderBy("m", "r")
    wnr = Window.partitionBy("event_type")
    ranked = rep.withColumn("rk", F.row_number().over(wrk)).withColumn(
        "nr", F.count(F.lit(1)).over(wnr)
    )
    lo_rk = F.ceil(0.025 * F.col("nr")).cast("bigint")
    hi_rk = F.ceil(0.975 * F.col("nr")).cast("bigint")
    return (
        ranked.join(obs, "event_type")
        .groupBy("event_type", "n_rows", "tv")
        .agg(
            F.round(
                F.min(F.when(F.col("rk") == lo_rk, F.col("m"))), 6
            ).alias("ci_lo"),
            F.round(
                F.min(F.when(F.col("rk") == hi_rk, F.col("m"))), 6
            ).alias("ci_hi"),
        )
        .select(
            "event_type",
            "n_rows",
            F.round(
                F.col("tv").cast("double") / scale / F.col("n_rows"), 6
            ).alias("mean_value"),
            "ci_lo",
            "ci_hi",
        )
    )


# --------------------------------------------------------------------------
# Multinomial randomization test + Benjamini-Hochberg FDR
# --------------------------------------------------------------------------

#: Randomization replicates (p-value resolution 1/(R+1) ≈ 0.0099).
_RAND_R = 100

#: Shared CTE prefix: per-row quantized values with the cross-engine
#: weekday (Sunday=1..Saturday=7 — Spark's DAYOFWEEK convention; DuckDB's
#: 0-based DAYOFWEEK is shifted +1 in the oracle).
_RAND_BASE_DUCK = """
    base0 AS (
        SELECT event_type,
               CAST(event_id AS BIGINT) AS event_id,
               DAYOFWEEK(CAST(ts AS DATE)) + 1 AS dow,
               CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS q
        FROM events
    ),
    bn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM base0),
    base AS (
        SELECT b.event_type, b.event_id, b.dow, b.q FROM base0 b, bn
        WHERE {SAMPLE}
    ),
    cells AS (
        SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_c,
               CAST(SUM(q) AS DECIMAL(38,0)) AS sv
        FROM base GROUP BY 1, 2
    ),
    tots AS (
        SELECT event_type, CAST(SUM(n_c) AS BIGINT) AS n_t,
               CAST(SUM(sv) AS DECIMAL(38,0)) AS tv
        FROM cells GROUP BY 1
    ),
    obs AS (
        SELECT c.event_type, c.dow, c.n_c,
               ROUND(ABS(CAST(c.sv AS DOUBLE) / 10000.0 / c.n_c
                         - CAST(t.tv - c.sv AS DOUBLE) / 10000.0
                           / (t.n_t - c.n_c)), 9) AS t_obs
        FROM cells c JOIN tots t USING (event_type)
    ),
    cells7 AS (
        SELECT t.event_type, g.dow, COALESCE(c.n_c, 0) AS n_c
        FROM tots t
        CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 7)) AS dow) g
        LEFT JOIN cells c
               ON c.event_type = t.event_type AND c.dow = g.dow
    ),
    thr AS (
        SELECT event_type,
               MAX(CASE WHEN dow = 1 THEN ct END) AS ct1,
               MAX(CASE WHEN dow = 2 THEN ct END) AS ct2,
               MAX(CASE WHEN dow = 3 THEN ct END) AS ct3,
               MAX(CASE WHEN dow = 4 THEN ct END) AS ct4,
               MAX(CASE WHEN dow = 5 THEN ct END) AS ct5,
               MAX(CASE WHEN dow = 6 THEN ct END) AS ct6
        FROM (
            SELECT c.event_type, c.dow,
                   CAST(CAST(SUM(c.n_c) OVER (
                            PARTITION BY c.event_type ORDER BY c.dow
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW)
                        AS DECIMAL(38,0)) * 4294967296 // t.n_t AS BIGINT)
                       AS ct
            FROM cells7 c JOIN tots t USING (event_type)
        ) GROUP BY 1
    ),
    drawn AS (
        SELECT b.event_type, g.r, b.q,
               1 + (CASE WHEN {u} >= h.ct1 THEN 1 ELSE 0 END)
                 + (CASE WHEN {u} >= h.ct2 THEN 1 ELSE 0 END)
                 + (CASE WHEN {u} >= h.ct3 THEN 1 ELSE 0 END)
                 + (CASE WHEN {u} >= h.ct4 THEN 1 ELSE 0 END)
                 + (CASE WHEN {u} >= h.ct5 THEN 1 ELSE 0 END)
                 + (CASE WHEN {u} >= h.ct6 THEN 1 ELSE 0 END) AS pdow
        FROM base b
        JOIN thr h USING (event_type),
             (SELECT UNNEST(GENERATE_SERIES(1, {R})) AS r) g
    ),
    repcell AS (
        SELECT event_type, r, pdow,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(q) AS DECIMAL(38,0)) AS sv
        FROM drawn GROUP BY 1, 2, 3
    ),
    tstat AS (
        SELECT rc.event_type, rc.r, rc.pdow AS dow,
               ROUND(ABS(CAST(rc.sv AS DOUBLE) / 10000.0 / rc.cnt
                         - CAST(t.tv - rc.sv AS DOUBLE) / 10000.0
                           / (t.n_t - rc.cnt)), 9) AS t_r
        FROM repcell rc JOIN tots t USING (event_type)
        WHERE rc.cnt < t.n_t
    ),
    pvals AS (
        SELECT o.event_type, o.dow, o.n_c, o.t_obs,
               CAST(COALESCE(SUM(CASE WHEN s.t_r >= o.t_obs
                                      THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS a
        FROM obs o
        LEFT JOIN tstat s
               ON s.event_type = o.event_type AND s.dow = o.dow
        GROUP BY 1, 2, 3, 4
    )
"""


def _rand_base_duck() -> str:
    return (
        _RAND_BASE_DUCK.replace("{u}", _u32_duck("b.event_id", "rt"))
        .replace("{R}", str(_RAND_R))
        .replace("{SAMPLE}", _events_sample_duck("b"))
    )


def randomization_pvalues(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(event_type, dow, n_c, t_obs, a) — the shared pipeline behind
    stat_randomization_dow and stat_bh_fdr: for each of the 35
    (type, weekday) cells, an approximate randomization test (Edgington
    1969 / Noreen 1989 shape) of H0 "this weekday's mean event value
    equals the rest of the type's" with the absolute mean difference as
    the statistic.

    Each (row, replicate) draws one md5-u32 and is assigned a PSEUDO
    weekday by inverse-CDF against the type's cumulative weekday
    frequencies ((cum·2³² div n_t) integer thresholds — exact, both
    engines; the threshold grid is DENSIFIED to all 7 weekdays with
    zero-count cells so a missing (type, dow) cell degenerates its
    band to zero width instead of NULLing the threshold and shifting
    later labels), i.e. labels are re-drawn multinomially with the
    observed proportions; `a` counts replicates whose |mean diff|
    reaches the observed one. All sums quantize through the iusum
    rule; replicate statistics round to the 9-grid before the >=
    comparison, so the exceedance count is deterministic
    cross-engine."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("event_id").cast("bigint").alias("event_id"),
        (F.dayofweek(F.col("ts").cast("date"))).alias("dow"),
        F.floor(F.col("value") * 10000.0 + 0.5).cast("bigint").alias("q"),
    )
    # validation scope (r13): ~30k-row deterministic hash sample — a
    # no-op through sf0.01; bounds the O(N·R) md5 expansion's gate cost.
    # The frame-level core below stays uncapped.
    # spread the bounded sample across the session's parallelism before
    # the xR md5 expansion (single-split scan otherwise = one task).
    # localCheckpoint (r15): the core consumes the sample through SIX
    # lazy branches (cells/tots/obs/cells7 and the ×R drawn side), each
    # re-planning the events scan + hash sample — 15 scans in one plan.
    # The sample is bounded (~30k rows) BY CONSTRUCTION here, so the
    # materialization is grid-class, not corpus-class; the uncapped
    # library form (randomization_pvalues_frame) stays lazy.
    return randomization_pvalues_frame(
        spread(_events_sample_spark(e), width_from=e).localCheckpoint(
            eager=True
        )
    )


def randomization_pvalues_frame(e: DataFrame) -> DataFrame:
    """Frame-level core of :func:`randomization_pvalues`: ``e`` has
    columns (event_type, event_id bigint, dow int in 1..7, q exact
    integer). Split out so the missing-weekday densification can be
    regression-tested on a fixture with an absent (type, dow) cell."""
    cells = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.sum("q").cast("decimal(38,0)").alias("sv"),
    )
    tots = cells.groupBy("event_type").agg(
        F.sum("n_c").cast("bigint").alias("n_t"),
        F.sum("sv").cast("decimal(38,0)").alias("tv"),
    )
    obs = cells.join(tots, "event_type").select(
        "event_type",
        "dow",
        "n_c",
        F.round(
            F.abs(
                F.col("sv").cast("double") / 10000.0 / F.col("n_c")
                - (F.col("tv") - F.col("sv")).cast("double")
                / 10000.0
                / (F.col("n_t") - F.col("n_c"))
            ),
            9,
        ).alias("t_obs"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("dow")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # densify to ALL 7 weekdays (zero-count cells included): a missing
    # (type, dow) cell must yield a degenerate threshold band (ct_j ==
    # ct_{j-1}, the label drawn with probability 0), NOT a NULL ct_j
    # whose comparison arm silently shifts every later pseudo-label.
    cells7 = (
        tots.select("event_type")
        .withColumn("dow", F.explode(F.sequence(F.lit(1), F.lit(7))))
        .join(
            cells.select("event_type", "dow", "n_c"),
            ["event_type", "dow"],
            "left",
        )
        .select(
            "event_type",
            "dow",
            F.coalesce(F.col("n_c"), F.lit(0).cast("bigint")).alias("n_c"),
        )
    )
    thr = (
        cells7.withColumn("cum", F.sum("n_c").over(wcum))
        .join(tots, "event_type")
        .withColumn(
            "ct",
            F.expr(
                "CAST(CAST(cum AS DECIMAL(38,0)) * 4294967296"
                " div n_t AS BIGINT)"
            ),
        )
        .groupBy("event_type")
        .agg(
            *[
                F.max(F.when(F.col("dow") == j, F.col("ct"))).alias(
                    f"ct{j}"
                )
                for j in range(1, 7)
            ]
        )
    )
    u = _u32_sql("event_id", "rt")
    pdow = " + ".join(
        f"(CASE WHEN {u} >= ct{j} THEN 1 ELSE 0 END)" for j in range(1, 7)
    )
    drawn = (
        e.withColumn("r", F.explode(F.sequence(F.lit(1), F.lit(_RAND_R))))
        .join(F.broadcast(thr), "event_type")
        .select(
            "event_type", "r", "q", F.expr(f"1 + {pdow}").alias("pdow")
        )
    )
    repcell = drawn.groupBy("event_type", "r", "pdow").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("q").cast("decimal(38,0)").alias("sv"),
    )
    tstat = (
        repcell.join(tots, "event_type")
        .filter(F.col("cnt") < F.col("n_t"))
        .select(
            "event_type",
            F.col("pdow").alias("dow"),
            F.round(
                F.abs(
                    F.col("sv").cast("double") / 10000.0 / F.col("cnt")
                    - (F.col("tv") - F.col("sv")).cast("double")
                    / 10000.0
                    / (F.col("n_t") - F.col("cnt"))
                ),
                9,
            ).alias("t_r"),
        )
    )
    return (
        obs.join(tstat, ["event_type", "dow"], "left")
        .groupBy("event_type", "dow", "n_c", "t_obs")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("t_r") >= F.col("t_obs"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("a")
        )
    )


@register(
    "stat_randomization_dow",
    oracle=f"""
    WITH {_rand_base_duck()}
    SELECT event_type, dow, n_c, ROUND(t_obs, 6) AS t_obs,
           a AS n_exceed,
           ROUND(CAST(1 + a AS DOUBLE) / {_RAND_R + 1}, 6) AS p_value,
           (SELECT nr > {_RAND_MAX_ROWS} FROM bn) AS sampled
    FROM pvals
    """,
)
def stat_randomization_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — approximate randomization test per (event_type, weekday)
    cell: H0 "this weekday's mean value equals the rest of the type's",
    statistic |mean_cell − mean_rest|, null distribution from {_RAND_R}
    hash-derandomized multinomial relabelings (see
    :func:`randomization_pvalues`), p = (1+a)/(R+1) (the add-one
    permutation p-value, Phipson & Smyth 2010 — never exactly 0).

    Scale: the ×R expansion is map-side (one scan fused with the md5
    expression) and partial-aggregates to (types × R × 7) grid rows
    before the only shuffle; the broadcast threshold table is 5 rows.
    p-value resolution at R={_RAND_R} is ~0.01 — raise R linearly in
    compute for tighter FDR input, nothing else changes. The
    ``sampled`` output column flags whether the _RAND_MAX_ROWS
    validation cap was binding (r14, ADVICE)."""
    p = randomization_pvalues(spark, sf_dir)
    flag = (
        load(spark, sf_dir, "events")
        .agg((F.count(F.lit(1)) > F.lit(_RAND_MAX_ROWS)).alias("sampled"))
    )
    return p.select(
        "event_type",
        "dow",
        "n_c",
        F.round("t_obs", 6).alias("t_obs"),
        F.col("a").alias("n_exceed"),
        F.round((1 + F.col("a")).cast("double") / (_RAND_R + 1), 6).alias(
            "p_value"
        ),
    ).crossJoin(F.broadcast(flag))


#: BH target false-discovery rate, as an exact rational (numer, denom).
_BH_Q = (1, 10)


def _step_up_duck(accept: str) -> str:
    """DuckDB oracle of a step-up FDR procedure over the randomization
    p-values: ``accept`` is the per-rank SQL predicate over ``r.a``,
    ``r.rk`` and ``t.m`` that admits rank ``r.rk`` into the rejection set."""
    return f"""
    WITH {_rand_base_duck()},
    ranked AS (
        SELECT x.event_type, x.dow, x.a,
               CAST(COUNT(*) AS BIGINT) AS rk
        FROM pvals x JOIN pvals y
          ON (y.a < x.a) OR (y.a = x.a AND (y.event_type < x.event_type
              OR (y.event_type = x.event_type AND y.dow <= x.dow)))
        GROUP BY 1, 2, 3
    ),
    mtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pvals),
    kmax AS (
        SELECT COALESCE(MAX(CASE WHEN {accept}
                             THEN r.rk END), 0) AS k
        FROM ranked r, mtot t
    )
    SELECT r.event_type, r.dow,
           ROUND(CAST(1 + r.a AS DOUBLE) / {_RAND_R + 1}, 6) AS p_value,
           r.rk AS p_rank,
           (r.rk <= k.k) AS rejected
    FROM ranked r, kmax k
    """


def _step_up_fdr(spark: SparkSession, sf_dir: str, accept: Column) -> DataFrame:
    """Step-up FDR rejection over the m randomization p-values of
    :func:`randomization_pvalues`: rank the hypotheses by (a, type, dow),
    take k = the largest rank whose ``accept`` predicate (over columns
    ``a``, ``rk`` and ``m``) holds, and reject ranks 1..k."""
    p = randomization_pvalues(spark, sf_dir).select(
        "event_type", "dow", "a"
    )
    p = p.localCheckpoint(eager=True)  # m rows; consumed 3x below
    x = p.select(
        F.col("event_type").alias("xt"),
        F.col("dow").alias("xd"),
        F.col("a").alias("xa"),
    )
    y = p.select(
        F.col("event_type").alias("yt"),
        F.col("dow").alias("yd"),
        F.col("a").alias("ya"),
    )
    lex = (F.col("ya") < F.col("xa")) | (
        (F.col("ya") == F.col("xa"))
        & (
            (F.col("yt") < F.col("xt"))
            | ((F.col("yt") == F.col("xt")) & (F.col("yd") <= F.col("xd")))
        )
    )
    ranked = (
        x.join(y, lex)
        .groupBy(
            F.col("xt").alias("event_type"),
            F.col("xd").alias("dow"),
            F.col("xa").alias("a"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("rk"))
    )
    mtot = p.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    kmax = ranked.crossJoin(F.broadcast(mtot)).agg(
        F.coalesce(F.max(F.when(accept, F.col("rk"))), F.lit(0)).alias("k")
    )
    return ranked.crossJoin(F.broadcast(kmax)).select(
        "event_type",
        "dow",
        F.round((1 + F.col("a")).cast("double") / (_RAND_R + 1), 6).alias(
            "p_value"
        ),
        F.col("rk").alias("p_rank"),
        (F.col("rk") <= F.col("k")).alias("rejected"),
    )


@register(
    "stat_bh_fdr",
    oracle=_step_up_duck(
        f"""(1 + r.a) * t.m * {_BH_Q[1]}
                                  <= r.rk * {_RAND_R + 1} * {_BH_Q[0]}"""
    ),
)
def stat_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — Benjamini–Hochberg step-up FDR control (BH 1995) at
    q = {_BH_Q[0]}/{_BH_Q[1]} over the m = 35 randomization p-values of
    :func:`randomization_pvalues` — the multiple-comparisons gate any
    per-segment metric sweep needs before alerting on "significant"
    cells. Reject H(1)..H(k) where k = max{{i : p(i) ≤ i·q/m}}.

    Exactness: p-values are exact rationals (1+a)/(R+1), so the BH
    inequality clears denominators to (1+a)·m·10 ≤ i·(R+1) — pure
    integer comparison, no float p anywhere in the decision; ranking
    ties break deterministically on (a, type, dow).

    Plan hygiene: the rank is a PAIR JOIN over the 35-row hypothesis
    grid (rk = #{(a',key') ≤lex (a,key)}), not a global window — the
    audit's no-unpartitioned-window rule holds even though m is tiny,
    and the pair join is bounded by m² by construction."""
    return _step_up_fdr(
        spark,
        sf_dir,
        (1 + F.col("a")) * F.col("m") * _BH_Q[1]
        <= F.col("rk") * (_RAND_R + 1) * _BH_Q[0],
    )


# --------------------------------------------------------------------------
# Benjamini–Yekutieli FDR (BY 2001) — BH under arbitrary dependence
# --------------------------------------------------------------------------

#: Harmonic number H(35) = Σ_{i=1..35} 1/i as a precomputed shared
#: literal (the BY correction factor for m = 5 types × 7 weekdays).
_BY_H35 = "4.146781419016861"


@register(
    "stat_by_fdr",
    oracle=_step_up_duck(
        f"""(((CAST(1 + r.a AS DOUBLE) * t.m) * {_BH_Q[1]})
                  * {_BY_H35})
                 <= CAST(r.rk * {_RAND_R + 1} * {_BH_Q[0]} AS DOUBLE)"""
    ),
)
def stat_by_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — Benjamini–Yekutieli step-up FDR control (BY 2001) at
    q = {_BH_Q[0]}/{_BH_Q[1]} over the same m = 35 randomization
    p-values as stat_bh_fdr: BH's FDR guarantee needs positive
    dependence (PRDS); BY divides the threshold by the harmonic number
    H(m) and is valid under ARBITRARY dependence — the conservative
    safety net when the 35 weekday cells are correlated (they share
    the type's total, so they ARE). Reject H(1)..H(k), k = max{{i :
    p(i) ≤ i·q/(m·H(m))}}.

    Exactness: the p-values and ranks are the exact integers of
    stat_bh_fdr; H(35) is a shared precomputed literal and the step-up
    comparison is ONE identically-parenthesized IEEE expression on
    both engines ((double(1+a)·m)·{_BH_Q[1]})·H ≤ double(rk·101) — the
    only float in the decision, bit-identical by fixed order.

    Scale: identical to stat_bh_fdr — the m²-bounded hypothesis-grid
    pair join after the one corpus-scan pipeline."""
    lhs = (
        (1 + F.col("a")).cast("double") * F.col("m") * _BH_Q[1]
    ) * F.expr(_BY_H35)
    rhs = (F.col("rk") * (_RAND_R + 1) * _BH_Q[0]).cast("double")
    return _step_up_fdr(spark, sf_dir, lhs <= rhs)


# --------------------------------------------------------------------------
# Fisher's exact test (Fisher 1935) — 2x2 independence per stratum
# --------------------------------------------------------------------------

#: DuckDB CTEs shared by the weekend x high-value 2x2 oracles
#: (stat_fisher_exact, stat_g_test): per-event flags ``base`` and the
#: per-type margins ``marg`` (a = weekend & high, r1, c1, n).
_WK_HI_MARG_DUCK = """base AS (
        SELECT event_type,
               CASE WHEN DAYOFWEEK(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS wk,
               CASE WHEN value > 50 THEN 1 ELSE 0 END AS hi
        FROM events
    ),
    marg AS (
        SELECT event_type,
               CAST(SUM(wk * hi) AS BIGINT) AS a,
               CAST(SUM(wk) AS BIGINT) AS r1,
               CAST(SUM(hi) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY 1
    )"""

#: DuckDB twin of :func:`_weekend_split` (``base``) and of the weekend /
#: weekday moments of :func:`_two_sample_moments` (``moms``).
_WK_Q_BASE_DUCK = """base AS (
        SELECT event_type,
               CASE WHEN DAYOFWEEK(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS wk,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS q
        FROM events
    )"""
_WK_MOMS_DUCK = """moms AS (
        SELECT event_type,
               CAST(SUM(wk) AS BIGINT) AS n1,
               CAST(SUM(1 - wk) AS BIGINT) AS n2,
               CAST(SUM(wk * q) AS DECIMAL(38,0)) AS s1,
               CAST(SUM((1 - wk) * q) AS DECIMAL(38,0)) AS s2,
               CAST(SUM(wk * q * q) AS DECIMAL(38,0)) AS ss1,
               CAST(SUM((1 - wk) * q * q) AS DECIMAL(38,0)) AS ss2
        FROM base GROUP BY 1
    )"""

#: Loud-failure bound on the largest stratum's row count: the exact
#: test broadcasts an O(nmax) log-factorial table and scans an
#: O(min(r1, c1)) k-grid per stratum, so an unbounded stratum must
#: error, not silently broadcast gigabytes. 5M rows ≈ 160 MB table —
#: the broadcast-threshold ballpark; beyond it use chi-square.
_FISHER_NMAX = 5_000_000


def _logfact_frame(spark: SparkSession, nmax: int) -> DataFrame:
    """(i, v) — v = log(i!) as Σ_{j≤i} round(ln j, 12), an exact
    DECIMAL(28,12) whose addends are fixed-point-rounded so the sum is
    order-independent and cross-engine identical. Built with the repo's
    two-phase bucketed prefix sum (per-4096-bucket partial sums +
    broadcast exclusive offsets + bucket-partitioned running sums) — no
    single-partition window at any size."""
    from decimal import Decimal

    ser = spark.range(1, nmax + 1).select(
        F.col("id").alias("i"),
        F.round(F.log(F.col("id").cast("double")), 12)
        .cast("decimal(28,12)")
        .alias("l"),
        F.expr("CAST((id - 1) div 4096 AS INT)").alias("b"),
    )
    bs = ser.groupBy("b").agg(F.sum("l").alias("s")).collect()
    acc = Decimal(0)
    offs = []
    for r in sorted(bs, key=lambda r: r.b):
        offs.append((r.b, acc))
        acc += r.s
    off = F.broadcast(
        spark.createDataFrame(offs, "b int, off decimal(28,12)")
    )
    w = Window.partitionBy("b").orderBy("i")
    return ser.join(off, "b").select(
        "i",
        (F.col("off") + F.sum("l").over(w))
        .cast("decimal(28,12)")
        .alias("v"),
    )


@register(
    "stat_fisher_exact",
    oracle=f"""
    WITH {_WK_HI_MARG_DUCK},
    lf AS (
        SELECT i, CAST(SUM(CAST(ROUND(LN(CAST(i AS DOUBLE)), 12)
                                AS DECIMAL(28,12)))
                       OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
                  AS DECIMAL(28,12)) AS v
        FROM (SELECT UNNEST(GENERATE_SERIES(
                  1, (SELECT MAX(n) FROM marg))) AS i)
    ),
    kgrid AS (
        SELECT m.event_type, m.a, m.r1, m.c1, m.n, g.k
        FROM marg m, LATERAL (SELECT UNNEST(GENERATE_SERIES(
            CAST(GREATEST(0, m.r1 + m.c1 - m.n) AS BIGINT),
            CAST(LEAST(m.r1, m.c1) AS BIGINT))) AS k) g
    ),
    lp AS (
        SELECT kg.event_type, kg.a, kg.k,
               (COALESCE(l1.v, 0) + COALESCE(l2.v, 0) + COALESCE(l3.v, 0)
                + COALESCE(l4.v, 0) - COALESCE(l5.v, 0)
                - COALESCE(l6.v, 0) - COALESCE(l7.v, 0)
                - COALESCE(l8.v, 0) - COALESCE(l9.v, 0)) AS lpv
        FROM kgrid kg
        LEFT JOIN lf l1 ON l1.i = kg.r1
        LEFT JOIN lf l2 ON l2.i = kg.n - kg.r1
        LEFT JOIN lf l3 ON l3.i = kg.c1
        LEFT JOIN lf l4 ON l4.i = kg.n - kg.c1
        LEFT JOIN lf l5 ON l5.i = kg.n
        LEFT JOIN lf l6 ON l6.i = kg.k
        LEFT JOIN lf l7 ON l7.i = kg.r1 - kg.k
        LEFT JOIN lf l8 ON l8.i = kg.c1 - kg.k
        LEFT JOIN lf l9 ON l9.i = kg.n - kg.r1 - kg.c1 + kg.k
    ),
    pmf AS (
        SELECT event_type, a, k,
               CAST(ROUND(EXP(CAST(lpv AS DOUBLE)), 12)
                    AS DECIMAL(20,14)) AS p
        FROM lp
    ),
    tails AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN k <= a THEN p ELSE 0 END)
                    AS DOUBLE) AS p_lo,
               CAST(SUM(CASE WHEN k >= a THEN p ELSE 0 END)
                    AS DOUBLE) AS p_hi
        FROM pmf GROUP BY 1
    )
    SELECT m.event_type, m.a, m.r1, m.c1, m.n,
           CASE WHEN m.a = m.r1 OR m.a = m.c1 THEN NULL
                ELSE ROUND(CAST((m.a * (m.n - m.r1 - m.c1 + m.a)) AS DOUBLE)
                           / ((m.r1 - m.a) * (m.c1 - m.a)), 6)
           END AS odds_ratio,
           ROUND(LEAST(t.p_lo, t.p_hi), 6) AS p_one_sided,
           ROUND(LEAST(1.0, 2 * LEAST(t.p_lo, t.p_hi)), 6) AS p_two_sided
    FROM marg m JOIN tails t USING (event_type)
    """,
)
def stat_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — Fisher's EXACT 2×2 independence test per event type:
    is high value (> 50) associated with the weekend? The hypergeometric
    small-sample companion to the engine's asymptotic chi-square
    (``agg_chi_square_independence``): exact tail probabilities, valid
    at any cell count. Two-sided p by the DOUBLING convention
    (2·min(lower tail, upper tail), capped at 1) — tail membership is
    decided by k alone, so no float pmf comparison enters the decision.

    Exactness: log-factorials are Σ round(ln j, 12) in DECIMAL(28,12)
    (order-independent, cross-engine identical addends), each log-pmf
    is an exact 9-term DECIMAL sum, pmf = exp → round 12 → DECIMAL
    accumulation, and the two tails are compared as exact decimals.
    Accumulated lf rounding error is ≤ n·5e-13 ≈ 1e-8 at sf0.1 — three
    orders below the 6-digit emit grid (pinned against an exact
    math.comb rational reference in tests).

    Scale: the factorial table is O(max stratum row count) — nmax is
    the LARGEST per-type row count, so the broadcast log-factorial
    frame and each type's k-grid (≈ min(r1, c1) rows) scale linearly
    with the biggest stratum, NOT with the margin alone. The exact
    test is therefore the right tool precisely when strata are bounded
    (QA slices, A/B cells): a ``_FISHER_NMAX`` guard fails loudly on an
    unbounded stratum instead of broadcasting a huge factorial table —
    for strata beyond the guard the chi-square operator is the scale
    path. The factorial table builds with the two-phase bucketed
    prefix sum (no global window) and broadcasts; margins come from
    one map-side-combined aggregate. Degenerate margins (a = r1 or
    a = c1, a zero cross cell) emit NULL odds_ratio explicitly via the
    same CASE guard on both engines — Spark's non-ANSI NULL and
    DuckDB's Inf semantics never get to disagree."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("wk"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("hi"),
    )
    return fisher_exact_frame(e)


def fisher_exact_frame(e: DataFrame) -> DataFrame:
    """Frame-level core of :func:`stat_fisher_exact`: ``e`` has columns
    (event_type stratum key, wk 0/1 row factor, hi 0/1 column factor).
    Split out so the degenerate-margin NULL guard and the _FISHER_NMAX
    loud-failure bound are testable on synthetic fixtures."""
    spark = e.sparkSession
    marg = e.groupBy("event_type").agg(
        F.sum(F.col("wk") * F.col("hi")).cast("bigint").alias("a"),
        F.sum("wk").cast("bigint").alias("r1"),
        F.sum("hi").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    marg = marg.localCheckpoint(eager=True)  # consumed 3x + driver nmax
    nmax = marg.agg(F.max("n")).collect()[0][0]
    if int(nmax) > _FISHER_NMAX:  # unbounded stratum: fail loudly
        raise ValueError(
            f"stat_fisher_exact: largest stratum has {nmax} rows > "
            f"_FISHER_NMAX={_FISHER_NMAX}; the O(nmax) factorial "
            "broadcast would not be bounded — use the chi-square "
            "operator (agg_chi_square_independence) for strata this "
            "large, or raise the guard deliberately."
        )
    lf = F.broadcast(_logfact_frame(spark, int(nmax)))
    kgrid = marg.select(
        "event_type",
        "a",
        "r1",
        "c1",
        "n",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0).cast("bigint"), F.col("r1") + F.col("c1") - F.col("n")),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("k"),
    )
    def _lfj(df, expr, name):
        l = lf.select(F.col("i").alias(f"__i_{name}"), F.col("v").alias(name))
        return df.join(
            l, F.expr(expr) == F.col(f"__i_{name}"), "left"
        ).drop(f"__i_{name}")

    lp = kgrid
    for name, expr in (
        ("l1", "r1"),
        ("l2", "n - r1"),
        ("l3", "c1"),
        ("l4", "n - c1"),
        ("l5", "n"),
        ("l6", "k"),
        ("l7", "r1 - k"),
        ("l8", "c1 - k"),
        ("l9", "n - r1 - c1 + k"),
    ):
        lp = _lfj(lp, expr, name)
    z = F.lit(0).cast("decimal(28,12)")
    lpv = (
        F.coalesce("l1", z)
        + F.coalesce("l2", z)
        + F.coalesce("l3", z)
        + F.coalesce("l4", z)
        - F.coalesce("l5", z)
        - F.coalesce("l6", z)
        - F.coalesce("l7", z)
        - F.coalesce("l8", z)
        - F.coalesce("l9", z)
    )
    pmf = lp.select(
        "event_type",
        "a",
        "k",
        F.round(F.exp(lpv.cast("double")), 12)
        .cast("decimal(20,14)")
        .alias("p"),
    )
    tails = pmf.groupBy("event_type").agg(
        F.sum(F.when(F.col("k") <= F.col("a"), F.col("p")).otherwise(
            F.lit(0).cast("decimal(20,14)")
        ))
        .cast("double")
        .alias("p_lo"),
        F.sum(F.when(F.col("k") >= F.col("a"), F.col("p")).otherwise(
            F.lit(0).cast("decimal(20,14)")
        ))
        .cast("double")
        .alias("p_hi"),
    )
    return marg.join(tails, "event_type").select(
        "event_type",
        "a",
        "r1",
        "c1",
        "n",
        F.when(
            (F.col("a") == F.col("r1")) | (F.col("a") == F.col("c1")),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                (
                    F.col("a")
                    * (F.col("n") - F.col("r1") - F.col("c1") + F.col("a"))
                ).cast("double")
                / ((F.col("r1") - F.col("a")) * (F.col("c1") - F.col("a"))),
                6,
            )
        )
        .alias("odds_ratio"),
        F.round(F.least("p_lo", "p_hi"), 6).alias("p_one_sided"),
        F.round(
            F.least(F.lit(1.0), 2 * F.least("p_lo", "p_hi")), 6
        ).alias("p_two_sided"),
    )


# --------------------------------------------------------------------------
# Effect sizes: Cohen's d / Hedges' g / Cliff's delta
# --------------------------------------------------------------------------


@register(
    "stat_effect_sizes",
    oracle=f"""
    WITH {_WK_Q_BASE_DUCK},
    {_WK_MOMS_DUCK},
    dvals AS (
        SELECT event_type, q,
               CAST(SUM(wk) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM base GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, c1, cnt,
               CAST(COALESCE(SUM(cnt) OVER (
                   PARTITION BY event_type ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cumbefore
        FROM dvals
    ),
    r2 AS (
        SELECT event_type,
               CAST(SUM(c1 * (2 * cumbefore + cnt + 1))
                    AS DECIMAL(38,0)) AS r1x2
        FROM ranked GROUP BY 1
    )
    SELECT m.event_type, m.n1 AS n_weekend, m.n2 AS n_weekday,
           ROUND((CAST(m.s1 AS DOUBLE) / m.n1
                  - CAST(m.s2 AS DOUBLE) / m.n2)
                 / SQRT((CAST(m.ss1 AS DOUBLE)
                         - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE)
                           / m.n1
                         + CAST(m.ss2 AS DOUBLE)
                         - CAST(m.s2 AS DOUBLE) * CAST(m.s2 AS DOUBLE)
                           / m.n2)
                        / (m.n1 + m.n2 - 2)), 6) AS cohens_d,
           ROUND(((CAST(m.s1 AS DOUBLE) / m.n1
                   - CAST(m.s2 AS DOUBLE) / m.n2)
                  / SQRT((CAST(m.ss1 AS DOUBLE)
                          - CAST(m.s1 AS DOUBLE) * CAST(m.s1 AS DOUBLE)
                            / m.n1
                          + CAST(m.ss2 AS DOUBLE)
                          - CAST(m.s2 AS DOUBLE) * CAST(m.s2 AS DOUBLE)
                            / m.n2)
                         / (m.n1 + m.n2 - 2)))
                 * (1.0 - 3.0 / (4.0 * (m.n1 + m.n2 - 2) - 1.0)), 6)
               AS hedges_g,
           ROUND(CAST(r.r1x2 - m.n1 * (m.n1 + 1) - m.n1 * m.n2
                      AS DOUBLE) / (CAST(m.n1 AS DOUBLE) * m.n2), 6)
               AS cliffs_delta
    FROM moms m JOIN r2 r USING (event_type)
    """,
)
def stat_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — the standardized effect-size suite for weekend-vs-weekday
    event value, per type: Cohen's d (pooled-SD mean difference),
    Hedges' g (small-sample bias correction 1 − 3/(4·df − 1)), and
    Cliff's delta (P(X>Y) − P(X<Y), the rank-based effect size that the
    engine's Mann-Whitney drift test reports significance for — the
    MAGNITUDE companion a 100 TB readout needs, since at that n
    everything is "significant").

    Exactness: values are 2-decimal, so q = floor(100v + 0.5) is an
    exact integer; all moment sums (S, SS) are exact DECIMAL(38,0)
    integers whose double casts stay below 2^53 through ~sf1 (headroom
    note: SS crosses at ~10^8 rows/type — widen to the split-mean form
    then); d/g are fixed-order IEEE expressions over those exact
    casts. Cliff's delta avoids pair enumeration entirely via midrank
    algebra: 2·R1 = Σ_v c1(v)·(2·cumbefore(v) + cnt(v) + 1) is an exact
    integer, and δ = (2R1 − n1(n1+1) − n1n2)/(n1n2) is exact-int →
    one division. The tie-handling matches the U statistic's half-credit
    convention exactly.

    Scale: one map-side-combined moment aggregate + one distinct-value
    aggregate; the rank window partitions by type over the VALUE GRID
    (≤ 60k distinct 2-decimal values), not row cardinality."""
    return effect_sizes(_weekend_split(spark, sf_dir))


def _weekend_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, wk, q) over events: ``wk`` = 1 on Saturday/Sunday,
    ``q`` = value in exact integer cents — the two-sample frame of the
    weekend-vs-weekday statistics."""
    return load(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1)
        .otherwise(0)
        .alias("wk"),
        cents().alias("q"),
    )


def _pooled_sd() -> Column:
    """Pooled two-sample standard deviation (in cents) over the exact
    moments of :func:`_two_sample_moments`."""
    return F.sqrt(
        (
            F.col("ss1").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n1")
            + F.col("ss2").cast("double")
            - F.col("s2").cast("double") * F.col("s2").cast("double") / F.col("n2")
        )
        / (F.col("n1") + F.col("n2") - 2)
    )


def _two_sample_moments(e: DataFrame) -> DataFrame:
    """Per-key exact integer moments of a (event_type, wk∈{0,1}, q int)
    frame — the shared sufficient statistics of effect_sizes and
    power_mde."""
    return e.groupBy("event_type").agg(
        F.sum("wk").cast("bigint").alias("n1"),
        F.sum(1 - F.col("wk")).cast("bigint").alias("n2"),
        F.sum("q").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("wk") * F.col("q")).cast("decimal(38,0)").alias("s1"),
        F.sum((1 - F.col("wk")) * F.col("q"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(F.col("wk") * F.col("q") * F.col("q"))
        .cast("decimal(38,0)")
        .alias("ss1"),
        F.sum((1 - F.col("wk")) * F.col("q") * F.col("q"))
        .cast("decimal(38,0)")
        .alias("ss2"),
    )


def effect_sizes(e: DataFrame) -> DataFrame:
    """(event_type, n_weekend, n_weekday, cohens_d, hedges_g,
    cliffs_delta) — the standardized effect-size suite over a prepared
    two-sample frame (``event_type`` key, ``wk`` ∈ {0,1} group flag,
    ``q`` exact integer value); the library form the Engine facade
    exposes (``stat_effect_sizes`` is its registered instance)."""
    moms = _two_sample_moments(e)
    dvals = e.groupBy("event_type", "q").agg(
        F.sum("wk").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = dvals.withColumn(
        "cumbefore",
        F.coalesce(F.sum("cnt").over(wcum), F.lit(0)).cast("bigint"),
    )
    r2 = ranked.groupBy("event_type").agg(
        F.sum(
            F.col("c1") * (2 * F.col("cumbefore") + F.col("cnt") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1x2")
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    sp = _pooled_sd()
    d = (m1 - m2) / sp
    # degenerate-margin guards (r15 ANSI sweep): an empty side divides
    # the moments by 0; n1 + n2 = 2 zeroes the pooled-variance df; two
    # constant samples make sp exactly 0 — each THREW on ANSI Spark
    # (NULL on DuckDB). Sequential whens: the small-n guard fires
    # before sp is ever evaluated.
    null_d = F.lit(None).cast("double")
    small = (
        (F.col("n1") == 0)
        | (F.col("n2") == 0)
        | ((F.col("n1") + F.col("n2")) <= 2)
    )
    return moms.join(r2, "event_type").select(
        "event_type",
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.when(small, null_d)
        .when(sp == 0, null_d)
        .otherwise(F.round(d, 6))
        .alias("cohens_d"),
        F.when(small, null_d)
        .when(sp == 0, null_d)
        .otherwise(
            F.round(
                d
                * (
                    1.0
                    - 3.0 / (4.0 * (F.col("n1") + F.col("n2") - 2) - 1.0)
                ),
                6,
            )
        )
        .alias("hedges_g"),
        F.when((F.col("n1") == 0) | (F.col("n2") == 0), null_d)
        .otherwise(
            F.round(
                (
                    F.col("r1x2")
                    - F.col("n1") * (F.col("n1") + 1)
                    - F.col("n1") * F.col("n2")
                ).cast("double")
                / (F.col("n1").cast("double") * F.col("n2")),
                6,
            )
        )
        .alias("cliffs_delta"),
    )


# --------------------------------------------------------------------------
# Bradley-Terry / Elo strengths from pairwise duels (Hunter 2004 MM)
# --------------------------------------------------------------------------

#: Fixed-point scale for BT strengths and MM iteration count.
_BT_S = 10**9
_BT_ROUNDS = 3


def _bt_iter_py(types, nij, rounds=_BT_ROUNDS, s=_BT_S):
    """Driver-side exact-integer MM iterations (Hunter 2004): the same
    half-up integer divisions the SQL oracle unrolls. nij maps ordered
    (i, j) -> wins of i over j."""

    def hdiv(a: int, b: int) -> int:
        return (2 * a + b) // (2 * b)

    k = len(types)
    pi = {t: s for t in types}
    wins = {t: sum(nij.get((t, u), 0) for u in types) for t in types}
    tot = {
        (t, u): nij.get((t, u), 0) + nij.get((u, t), 0)
        for t in types
        for u in types
        if t != u
    }
    for _ in range(rounds):
        d = {
            t: sum(
                hdiv(tot[(t, u)] * s * s, pi[t] + pi[u])
                for u in types
                if u != t
            )
            for t in types
        }
        raw = {t: hdiv(wins[t] * s * s, d[t]) if d[t] else 0 for t in types}
        tsum = sum(raw.values())
        if tsum == 0:
            # no games anywhere (degenerate catalog): the MM update has
            # no information — keep the uniform strengths instead of
            # dividing by zero (r15 ANSI sweep; the registered fixture
            # always has games)
            continue
        pi = {t: hdiv(raw[t] * k * s, tsum) for t in types}
    return pi, wins, {t: sum(tot[(t, u)] for u in types if u != t) for t in types}


def _bt_oracle() -> str:
    s, k_rounds = _BT_S, _BT_ROUNDS
    parts = [
        f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    wins AS (
        SELECT a.event_type AS i, b.event_type AS j,
               CAST(SUM(CASE WHEN a.n > b.n THEN 1 ELSE 0 END)
                    AS BIGINT) AS nij
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.event_type <> b.event_type
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT w1.i, w1.j,
               CAST(w1.nij + w2.nij AS HUGEINT) AS t
        FROM wins w1 JOIN wins w2 ON w2.i = w1.j AND w2.j = w1.i
    ),
    wsum AS (
        SELECT i, CAST(SUM(nij) AS HUGEINT) AS w,
               (SELECT CAST(COUNT(DISTINCT event_type) AS HUGEINT)
                FROM daily) AS k
        FROM wins GROUP BY 1
    ),
    p0 AS (SELECT i, CAST({s} AS HUGEINT) AS pi FROM wsum)"""
    ]
    for r in range(1, k_rounds + 1):
        parts.append(
            f""",
    d{r} AS (
        SELECT t.i,
               CAST(SUM((2 * t.t * {s * s} + (pa.pi + pb.pi))
                        // (2 * (pa.pi + pb.pi))) AS HUGEINT) AS d
        FROM tot t
        JOIN p{r - 1} pa ON pa.i = t.i
        JOIN p{r - 1} pb ON pb.i = t.j
        GROUP BY 1
    ),
    raw{r} AS (
        SELECT w.i,
               CASE WHEN d.d > 0
                    THEN (2 * w.w * {s * s} + d.d) // (2 * d.d)
                    ELSE 0 END AS pr,
               w.k
        FROM wsum w JOIN d{r} d ON d.i = w.i
    ),
    p{r} AS (
        SELECT i, (2 * pr * k * {s} + ts) // (2 * ts) AS pi
        FROM raw{r}, (SELECT CAST(SUM(pr) AS HUGEINT) AS ts
                      FROM raw{r})
    )"""
        )
    parts.append(
        f"""
    SELECT w.i AS event_type,
           CAST(w.w AS BIGINT) AS wins,
           CAST(g.g AS BIGINT) AS games,
           CAST(p.pi AS BIGINT) AS pi9,
           CASE WHEN p.pi > 0
                THEN ROUND(1500.0 + 400.0
                           * LOG10(CAST(p.pi AS DOUBLE) / {float(s)}), 6)
           END AS rating
    FROM wsum w
    JOIN (SELECT i, CAST(SUM(t) AS BIGINT) AS g FROM tot GROUP BY 1) g
      ON g.i = w.i
    JOIN p{k_rounds} p ON p.i = w.i
    """
    )
    return "".join(parts)


@register("eval_elo_bradley_terry", oracle=_bt_oracle())
def eval_elo_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — Bradley–Terry strengths from pairwise duels, solved with 3
    MM iterations (Hunter 2004) in EXACT fixed-point arithmetic — the
    model behind arena-style LLM leaderboards (pairwise preferences →
    latent strengths → Elo-scale ratings). Duels: each day, each pair
    of event types "competes" on daily volume; strict wins count,
    ties drop.

    Exactness: π carries in ×1e9 integers; every MM step is the
    half-up integer division (2a+b)//(2b) on DECIMAL(38,0) — the
    ml_linreg_gd discipline — with a per-round renormalization to
    Σπ = K·S, so the trajectory is bit-identical across engines and
    partition orders; the oracle unrolls the same three rounds as
    CTEs. Ratings emit as 1500 + 400·log10(π/S) (one log per output
    row, rounded to 6). The day-grid duel matrix is computed
    distributed; the MM loop runs driver-side on the K×K integer
    matrix (kmeans-centroid precedent — K² numbers, not rows).

    Scale: one (type, day) map-side-combined aggregate; the duel
    self-join is day-grid × K² — at 100 TB still thousands of cells.
    K (model size) is bounded by design; for large K the same MM step
    is one aggregate per round over the pair matrix, still never
    row-scale."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = daily.select(
        F.col("event_type").alias("i"),
        "day",
        F.col("n").alias("na"),
    )
    b = daily.select(
        F.col("event_type").alias("j"),
        "day",
        F.col("n").alias("nb"),
    )
    wins = (
        a.join(b, "day")
        .filter(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.when(F.col("na") > F.col("nb"), 1).otherwise(0))
            .cast("bigint")
            .alias("nij")
        )
    )
    return bradley_terry(wins)


def bradley_terry(wins: DataFrame) -> DataFrame:
    """(event_type, wins, games, pi9, rating) — Bradley-Terry strengths
    + Elo-scale ratings from an ordered-pair duel frame (columns ``i``,
    ``j``, ``nij`` = wins of i over j); the library form the Engine
    facade exposes (``eval_elo_bradley_terry`` is its registered
    oracle-checked instance). Collects the K² duel matrix driver-side
    (grid-sized by design) and runs the exact-integer MM iterations."""
    spark = wins.sparkSession
    rows = wins.collect()  # K*(K-1) integers — grid-sized by design
    nij = {(r.i, r.j): int(r.nij) for r in rows}
    types = sorted({r.i for r in rows})
    pi, wtot, games = _bt_iter_py(types, nij)
    out = spark.createDataFrame(
        [(t, wtot[t], games[t], pi[t]) for t in types],
        "event_type string, wins bigint, games bigint, pi9 bigint",
    )
    return out.select(
        "event_type",
        "wins",
        "games",
        "pi9",
        F.when(
            F.col("pi9") > 0,
            F.round(
                1500.0
                + 400.0 * F.log10(F.col("pi9").cast("double") / float(_BT_S)),
                6,
            ),
        ).alias("rating"),
    )


# --------------------------------------------------------------------------
# Two-sample power analysis: minimal detectable effect
# --------------------------------------------------------------------------

#: Standard-normal quantiles as shared literals (z_{0.975}, z_{0.80}) —
#: identical tokens in the Spark expression and the oracle, no runtime
#: inverse-CDF on either engine.
_Z975 = "1.959963984540054"
_Z80 = "0.8416212335729143"


@register(
    "stat_power_mde",
    oracle=f"""
    WITH {_WK_Q_BASE_DUCK},
    moms AS (
        SELECT event_type,
               CAST(SUM(wk) AS BIGINT) AS n1,
               CAST(SUM(1 - wk) AS BIGINT) AS n2,
               CAST(SUM(q) AS DECIMAL(38,0)) AS s,
               CAST(SUM(wk * q) AS DECIMAL(38,0)) AS s1,
               CAST(SUM((1 - wk) * q) AS DECIMAL(38,0)) AS s2,
               CAST(SUM(wk * q * q) AS DECIMAL(38,0)) AS ss1,
               CAST(SUM((1 - wk) * q * q) AS DECIMAL(38,0)) AS ss2
        FROM base GROUP BY 1
    )
    SELECT event_type, n1 AS n_weekend, n2 AS n_weekday,
           ROUND(SQRT((CAST(ss1 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1
                       + CAST(ss2 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
                      / (n1 + n2 - 2)) / 100.0, 6) AS pooled_sd,
           ROUND(({_Z975} + {_Z80})
                 * (SQRT((CAST(ss1 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1
                          + CAST(ss2 AS DOUBLE)
                          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
                         / (n1 + n2 - 2)) / 100.0)
                 * SQRT(1.0 / n1 + 1.0 / n2), 6) AS mde_abs,
           ROUND((({_Z975} + {_Z80})
                  * (SQRT((CAST(ss1 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1
                           + CAST(ss2 AS DOUBLE)
                           - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
                          / (n1 + n2 - 2)) / 100.0)
                  * SQRT(1.0 / n1 + 1.0 / n2))
                 / (CAST(s AS DOUBLE) / 100.0 / (n1 + n2)), 6)
               AS mde_rel
    FROM moms
    """,
)
def stat_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — two-sample power analysis: the MINIMAL DETECTABLE EFFECT
    at α = 0.05 (two-sided) / power 0.8 for the weekend-vs-weekday mean
    comparison each type's current sample supports:
    MDE = (z_{{0.975}} + z_{{0.80}}) · s_pooled · √(1/n1 + 1/n2) —
    the experiment-design companion to stat_effect_sizes (that one
    reports the effect you GOT; this reports the effect you COULD
    detect). mde_rel scales by the type's overall mean (the "X% lift"
    form product reviews quote).

    Exactness: the z quantiles are shared decimal literals (no runtime
    inverse-CDF); moments are exact integers (2-decimal quantization,
    the stat_effect_sizes envelope); everything downstream is a
    fixed-order IEEE expression rounded to 6.

    Scale: one map-side-combined moment aggregate; output is
    K rows of pure algebra."""
    return power_mde(_weekend_split(spark, sf_dir))


def power_mde(e: DataFrame) -> DataFrame:
    """(event_type, n_weekend, n_weekday, pooled_sd, mde_abs, mde_rel)
    — two-sample minimal detectable effect at α=0.05 / power 0.8 over
    the same prepared frame shape as :func:`effect_sizes`; the library
    form the Engine facade exposes (``stat_power_mde`` is its
    registered oracle-checked instance)."""
    moms = _two_sample_moments(e)
    sp = _pooled_sd() / 100.0
    mde = (
        F.expr(f"{_Z975} + {_Z80}")
        * sp
        * F.sqrt(1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    mean_all = F.col("s").cast("double") / 100.0 / (F.col("n1") + F.col("n2"))
    # degenerate-margin guards (r15 ANSI sweep): empty side / df = 0
    # divide the pooled variance by zero; an all-zero metric makes the
    # relative MDE's mean denominator 0 — ANSI Spark threw on each.
    null_d = F.lit(None).cast("double")
    small = (
        (F.col("n1") == 0)
        | (F.col("n2") == 0)
        | ((F.col("n1") + F.col("n2")) <= 2)
    )
    return moms.select(
        "event_type",
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.when(small, null_d).otherwise(F.round(sp, 6)).alias("pooled_sd"),
        F.when(small, null_d).otherwise(F.round(mde, 6)).alias("mde_abs"),
        F.when(small, null_d)
        .when(F.col("s") == 0, null_d)
        .otherwise(F.round(mde / mean_all, 6))
        .alias("mde_rel"),
    )


# --------------------------------------------------------------------------
# Pairwise win-rate matrix with Wilson intervals
# --------------------------------------------------------------------------


@register(
    "eval_win_rate_matrix",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    duel AS (
        SELECT a.event_type AS i, b.event_type AS j,
               CAST(SUM(CASE WHEN a.n > b.n THEN 1 ELSE 0 END)
                    AS BIGINT) AS w,
               CAST(SUM(CASE WHEN a.n <> b.n THEN 1 ELSE 0 END)
                    AS BIGINT) AS g
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i, j, w AS wins_i, g AS games,
           ROUND(CAST(w AS DOUBLE) / g, 6) AS win_rate,
           ROUND((CAST(w AS DOUBLE) / g + {_Z975} * {_Z975} / (2.0 * g)
                  - {_Z975} * SQRT((CAST(w AS DOUBLE) / g)
                                   * (1.0 - CAST(w AS DOUBLE) / g) / g
                                   + {_Z975} * {_Z975} / (4.0 * g * g)))
                 / (1.0 + {_Z975} * {_Z975} / g), 6) AS wilson_lo,
           ROUND((CAST(w AS DOUBLE) / g + {_Z975} * {_Z975} / (2.0 * g)
                  + {_Z975} * SQRT((CAST(w AS DOUBLE) / g)
                                   * (1.0 - CAST(w AS DOUBLE) / g) / g
                                   + {_Z975} * {_Z975} / (4.0 * g * g)))
                 / (1.0 + {_Z975} * {_Z975} / g), 6) AS wilson_hi,
           ((CAST(w AS DOUBLE) / g + {_Z975} * {_Z975} / (2.0 * g)
             - {_Z975} * SQRT((CAST(w AS DOUBLE) / g)
                              * (1.0 - CAST(w AS DOUBLE) / g) / g
                              + {_Z975} * {_Z975} / (4.0 * g * g)))
            / (1.0 + {_Z975} * {_Z975} / g) > 0.5
            OR (CAST(w AS DOUBLE) / g + {_Z975} * {_Z975} / (2.0 * g)
                + {_Z975} * SQRT((CAST(w AS DOUBLE) / g)
                                 * (1.0 - CAST(w AS DOUBLE) / g) / g
                                 + {_Z975} * {_Z975} / (4.0 * g * g)))
               / (1.0 + {_Z975} * {_Z975} / g) < 0.5) AS decisive
    FROM duel
    """,
)
def eval_win_rate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — the pairwise WIN-RATE matrix with 95% WILSON score
    intervals (Wilson 1927): for each unordered pair of event types,
    i's win rate over decisive daily-volume duels, the score-interval
    bounds, and whether the pair is DECISIVE (the interval excludes ½)
    — the arena-leaderboard companion to eval_elo_bradley_terry (BT
    gives one strength per player; this gives the per-matchup
    uncertainty that tells you which head-to-heads are actually
    settled). Wilson is the interval of choice for win rates because
    it never leaves [0,1] and behaves at small g, unlike the normal
    (Wald) interval.

    Exactness: wins/games are exact integers; the Wilson bounds are one
    fixed-order IEEE expression over them with the z quantile as a
    shared decimal literal (same token stream both engines), rounded 6;
    the decisiveness booleans compare the UNROUNDED bounds identically
    on both engines.

    Scale: day-grid duel join (same as BT), K²/2 output rows."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = daily.select(
        F.col("event_type").alias("i"), "day", F.col("n").alias("na")
    )
    b = daily.select(
        F.col("event_type").alias("j"), "day", F.col("n").alias("nb")
    )
    duel = (
        a.join(b, "day")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.when(F.col("na") > F.col("nb"), 1).otherwise(0))
            .cast("bigint")
            .alias("w"),
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0))
            .cast("bigint")
            .alias("g"),
        )
    )
    z = F.expr(_Z975)
    p = F.col("w").cast("double") / F.col("g")
    g = F.col("g")
    center = p + z * z / (2.0 * g)
    half = z * F.sqrt(p * (1.0 - p) / g + z * z / (4.0 * g * g))
    denom = 1.0 + z * z / g
    lo = (center - half) / denom
    hi = (center + half) / denom
    return duel.select(
        "i",
        "j",
        F.col("w").alias("wins_i"),
        F.col("g").alias("games"),
        F.round(p, 6).alias("win_rate"),
        F.round(lo, 6).alias("wilson_lo"),
        F.round(hi, 6).alias("wilson_hi"),
        ((lo > 0.5) | (hi < 0.5)).alias("decisive"),
    )


# --------------------------------------------------------------------------
# Always-valid sequential test (mSPRT, Johari et al. 2017)
# --------------------------------------------------------------------------

#: ln(1/alpha) rejection boundary at alpha = 0.05, as a shared literal.
_MSPRT_LN20 = "2.995732273553991"


#: DuckDB per-(event_type, day) event count ``n`` and exact cents total
#: ``s`` — the daily grid of the two sequential-testing oracles.
_DAILY_CENTS_DUCK = """
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                    AS DECIMAL(38,0)) AS s
        FROM events GROUP BY 1, 2
    """


@register(
    "stat_msprt_sequential",
    oracle=f"""
    WITH base AS ({_DAILY_CENTS_DUCK}),
    gtot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS ng,
               CAST(SUM(s) AS DECIMAL(38,0)) AS sg,
               CAST(SUM(ss) AS DECIMAL(38,0)) AS ssg
        FROM (SELECT event_type, CAST(ts AS DATE) AS day,
                     COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                          AS DECIMAL(38,0)) AS s,
                     CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                              * CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                          AS DECIMAL(38,0)) AS ss
              FROM events GROUP BY 1, 2)
    ),
    cum AS (
        SELECT event_type, day,
               CAST(SUM(n) OVER w AS BIGINT) AS cn,
               CAST(SUM(s) OVER w AS DECIMAL(38,0)) AS cs
        FROM base
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    ll AS (
        SELECT c.event_type, c.day, c.cn,
               ROUND(
                 0.5 * LN(v.var2
                          / (v.var2 + c.cn * v.var2))
                 + (CAST(c.cn AS DOUBLE) * c.cn * v.var2
                    * ((CAST(c.cs AS DOUBLE) / 100.0 / c.cn - v.mu0)
                       * (CAST(c.cs AS DOUBLE) / 100.0 / c.cn - v.mu0)))
                   / (2.0 * v.var2 * (v.var2 + c.cn * v.var2)),
                 9) AS logl
        FROM cum c,
             (SELECT CAST(sg AS DOUBLE) / 100.0 / ng AS mu0,
                     (CAST(ssg AS DOUBLE) / 10000.0 / ng
                      - (CAST(sg AS DOUBLE) / 100.0 / ng)
                        * (CAST(sg AS DOUBLE) / 100.0 / ng)) AS var2
              FROM gtot) v
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(MAX(CASE WHEN rn = 1 THEN logl END), 6) AS log_lambda_final,
           MIN(CASE WHEN logl >= {_MSPRT_LN20} THEN day END)
               AS first_cross_day,
           (MIN(CASE WHEN logl >= {_MSPRT_LN20} THEN day END) IS NOT NULL)
               AS rejected
    FROM (SELECT event_type, day, logl,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY day DESC) AS rn
          FROM ll)
    GROUP BY event_type
    """,
)
def stat_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — ALWAYS-VALID sequential test (mixture SPRT, Johari/Pekelis/
    Walsh 2017): per event type, monitor the running mean value day by
    day against H0 "μ equals the global mean", with the ONE-SAMPLE
    normal-kernel mixture likelihood ratio
        log Λ_n = ½·ln(σ²/(σ²+nτ²)) + n²τ²(x̄−μ0)²/(2σ²(σ²+nτ²))
    (τ² = σ², the standard self-scaled mixture — this is the
    one-sample kernel, matching the one-stream-vs-μ0 comparison; the
    two-sample kernel's 2σ²/4σ² factors apply only when two streams
    are differenced). Unlike a fixed-horizon test, Λ may be inspected
    EVERY day and the α = 0.05 guarantee still holds — exactly the
    dashboard-peeking workflow that breaks naive p-values. Emits the
    final log Λ, the first boundary-crossing day, and the rejection
    flag.

    Caveat (documented, by design): μ0 and σ² are PLUG-IN moments
    estimated from the pooled data, which includes the monitored
    stream itself — so the advertised always-valid α = 0.05 holds
    approximately (asymptotically, as the pooled estimate converges),
    not exactly; a production deployment would fix μ0/σ² from a
    holdout period before monitoring starts.

    Exactness: all cumulative sums are exact integers (2-decimal value
    quantization) windowed over the DAY GRID per type; μ0 and σ² come
    from one exact global moment row; each day's log Λ is a fixed-order
    IEEE expression rounded to the 9-grid BEFORE the boundary
    comparison (shared ln(20) literal), so crossing decisions are
    deterministic cross-engine.

    Scale: one (type, day) map-side-combined aggregate; the cumulative
    window partitions by type over the day grid. At 100 TB this is the
    canonical streaming-experimentation readout."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        cents().alias("q"),
    )
    base = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("decimal(38,0)").alias("ss"),
    )
    glob = base.agg(
        F.sum("n").cast("bigint").alias("ng"),
        F.sum("s").cast("decimal(38,0)").alias("sg"),
        F.sum("ss").cast("decimal(38,0)").alias("ssg"),
    ).select(
        (F.col("sg").cast("double") / 100.0 / F.col("ng")).alias("mu0"),
        (
            F.col("ssg").cast("double") / 10000.0 / F.col("ng")
            - (F.col("sg").cast("double") / 100.0 / F.col("ng"))
            * (F.col("sg").cast("double") / 100.0 / F.col("ng"))
        ).alias("var2"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.select(
        "event_type",
        "day",
        F.sum("n").over(wcum).cast("bigint").alias("cn"),
        F.sum("s").over(wcum).cast("decimal(38,0)").alias("cs"),
    )
    j = cum.crossJoin(F.broadcast(glob))
    xbar_dev = (
        F.col("cs").cast("double") / 100.0 / F.col("cn") - F.col("mu0")
    )
    logl = F.round(
        0.5
        * F.log(
            F.col("var2") / (F.col("var2") + F.col("cn") * F.col("var2"))
        )
        + (
            F.col("cn").cast("double")
            * F.col("cn")
            * F.col("var2")
            * (xbar_dev * xbar_dev)
        )
        / (2.0 * F.col("var2") * (F.col("var2") + F.col("cn") * F.col("var2"))),
        9,
    )
    ll = j.select("event_type", "day", logl.alias("logl"))
    wlast = Window.partitionBy("event_type").orderBy(F.desc("day"))
    ranked = ll.withColumn("rn", F.row_number().over(wlast))
    thr = F.expr(_MSPRT_LN20)
    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("logl"))), 6
        ).alias("log_lambda_final"),
        F.min(F.when(F.col("logl") >= thr, F.col("day"))).alias(
            "first_cross_day"
        ),
        F.min(F.when(F.col("logl") >= thr, F.col("day")))
        .isNotNull()
        .alias("rejected"),
    )


# --------------------------------------------------------------------------
# Bootstrap CI for ROC AUC (Poisson-weighted exact midranks)
# --------------------------------------------------------------------------


#: DuckDB CTEs shared by the two bootstrap-AUC oracles: from ``awb``
#: (replicate r, score v, weighted class totals wp/wn) to each replicate's
#: AUC ``rep`` and the replicate-grid order statistics ``ranked``.
_AUC_BOOT_RANKED_DUCK = """awc AS (
        SELECT r, v, wp, wn,
               CAST(COALESCE(SUM(wn) OVER (
                   PARTITION BY r ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DECIMAL(38,0)) AS cwn
        FROM awb
    ),
    rep AS (
        SELECT r,
               ROUND(CAST(SUM(wp * (2 * cwn + wn)) AS DOUBLE)
                     / (2.0 * CAST(SUM(wp) AS DOUBLE)
                        * CAST(SUM(wn) AS DOUBLE)), 9) AS m
        FROM awc GROUP BY r
    ),
    ranked AS (
        SELECT x.r, x.m, CAST(COUNT(*) AS BIGINT) AS rk
        FROM (SELECT * FROM rep WHERE r > 0) x
        JOIN (SELECT * FROM rep WHERE r > 0) y
          ON (y.m < x.m) OR (y.m = x.m AND y.r <= x.r)
        GROUP BY 1, 2
    )"""


def _boot_auc_ci(awb: DataFrame, tot: DataFrame) -> DataFrame:
    """``tot`` × (auc, ci_lo, ci_hi) from per-(replicate r, score v)
    weighted class totals ``wp``/``wn``: each replicate's exact weighted
    midrank AUC, replicate 0 as the point estimate, and the CI as the
    _BOOT_LO_RK/_BOOT_HI_RK order statistics of replicates 1..R."""
    wcum = (
        Window.partitionBy("r")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = awb.withColumn(
        "cwn",
        F.coalesce(F.sum("wn").over(wcum), F.lit(0)).cast("decimal(38,0)"),
    )
    rep = cum.groupBy("r").agg(
        # one-class input: a replicate's positive (or negative) weight
        # total is 0 and its AUC is undefined — ANSI Spark threw where
        # DuckDB returns NULL (r15 sweep); the NULL propagates to the
        # point estimate and CI (the rank join drops NULL replicates)
        F.when(
            (F.sum("wp") == 0) | (F.sum("wn") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.sum(
                    F.col("wp") * (2 * F.col("cwn") + F.col("wn"))
                ).cast("double")
                / (
                    2.0
                    * F.sum("wp").cast("double")
                    * F.sum("wn").cast("double")
                ),
                9,
            )
        )
        .alias("m")
    )
    rep = rep.localCheckpoint(eager=True)  # R+1 rows; consumed 3x
    boot = rep.filter(F.col("r") > 0)
    x = boot.select(F.col("r").alias("xr"), F.col("m").alias("xm"))
    y = boot.select(F.col("r").alias("yr"), F.col("m").alias("ym"))
    ranked = (
        x.join(
            y,
            (F.col("ym") < F.col("xm"))
            | ((F.col("ym") == F.col("xm")) & (F.col("yr") <= F.col("xr"))),
        )
        .groupBy("xr", "xm")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rk"))
    )
    point = rep.filter(F.col("r") == 0).select(
        F.round("m", 6).alias("auc")
    )
    ci = ranked.agg(
        F.round(
            F.min(F.when(F.col("rk") == _BOOT_LO_RK, F.col("xm"))), 6
        ).alias("ci_lo"),
        F.round(
            F.min(F.when(F.col("rk") == _BOOT_HI_RK, F.col("xm"))), 6
        ).alias("ci_hi"),
    )
    return (
        tot.crossJoin(F.broadcast(point)).crossJoin(F.broadcast(ci))
    )


@register(
    "eval_auc_bootstrap_ci",
    oracle=f"""
    WITH base0 AS (
        SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr FROM base0),
    base AS (
        SELECT b.id, b.v, b.pos FROM base0 b, nn
        WHERE CAST(('0x' || SUBSTR(MD5(CAST(b.id AS VARCHAR) || ':as'),
                             1, 8)) AS BIGINT)
            < CAST(4294967296.0
                   * LEAST(1.0, CAST({_BOOT_MAX_ROWS} AS DOUBLE) / nr)
               AS BIGINT)
    ),
    weighted AS (
        SELECT g.r, b.v, b.pos,
               CASE WHEN g.r = 0 THEN 1 ELSE
                    {_pois_w_sql(_u32_duck("b.id", "ab"))} END AS w
        FROM base b,
             (SELECT UNNEST(GENERATE_SERIES(0, {_BOOT_R})) AS r) g
    ),
    awb AS (
        SELECT r, v,
               CAST(SUM(w * pos) AS DECIMAL(38,0)) AS wp,
               CAST(SUM(w * (1 - pos)) AS DECIMAL(38,0)) AS wn
        FROM weighted GROUP BY 1, 2
    ),
    {_AUC_BOOT_RANKED_DUCK}
    SELECT (SELECT CAST(SUM(pos) AS BIGINT) FROM base) AS n_pos,
           (SELECT CAST(SUM(1 - pos) AS BIGINT) FROM base) AS n_neg,
           (SELECT ROUND(m, 6) FROM rep WHERE r = 0) AS auc,
           ROUND(MIN(CASE WHEN rk = {_BOOT_LO_RK} THEN m END), 6) AS ci_lo,
           ROUND(MIN(CASE WHEN rk = {_BOOT_HI_RK} THEN m END), 6) AS ci_hi,
           (SELECT nr > {_BOOT_MAX_ROWS} FROM nn) AS sampled
    FROM ranked
    """,
)
def eval_auc_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — ROC AUC with a Poisson-bootstrap 95% CI: the exact weighted
    Mann-Whitney identity 2U = Σ_v wp(v)·(2·cumwn(v) + wn(v)) evaluated
    per replicate with Poisson(1) md5-weights (replicate 0 = all-ones =
    the point estimate, which matches eval_auc_exact), CI from the
    ceil(0.025R)/ceil(0.975R) order statistics (3rd/98th at R=100,
    derived from _BOOT_R on both engines) of the replicate AUCs — uncertainty
    for the engine's headline ranking metric without a single
    resampling shuffle. This is the composition the bootstrap family
    was built for: any statistic expressible from weighted sufficient
    statistics inherits the CI machinery.

    Exactness: the weighted tie-half-credit rank sum is an exact
    integer per replicate (DECIMAL(38,0); < 2^53 as double through
    ~sf10 — headroom note: the double-exactness crossing 2·WP·WN = 2^53
    sits at ~1.4·10^8 TOTAL rows for this fixture's class split with
    the measured replicate weight inflation, pinned in
    tests/test_overflow_headroom.py; the 30k validation cap is ≥10^3
    inside it); each replicate AUC is one IEEE division rounded to the
    9-grid; the CI is order-statistic selection via the bounded
    replicate-grid pair join (no global window, the stat_bh_fdr rule);
    weights reuse the shared Poisson threshold literals, computed ONCE
    per (row, replicate) in a hoisted projection.

    Scale: the ×R expansion partial-aggregates to (R × |value grid|)
    rows before the only shuffle — the discount grid has 11 values, so
    the post-shuffle state is ~1.1k rows regardless of corpus size.
    VALIDATION SCOPE (r13): the expansion itself is still O(N·R) scan
    compute, so the input is bounded to a deterministic ~30k-row
    md5-u32 hash sample (identical rows on both engines; a no-op at
    N ≤ _BOOT_MAX_ROWS, e.g. sf0.001) — this query's job is to
    validate the per-row textbook machinery end to end, and its CI
    (and n_pos/n_neg) describe the sample. The registered AT-SCALE
    form is :func:`eval_auc_bootstrap_cell_ci` (one draw per
    value-cell × replicate, corpus-size-independent)."""
    base0 = load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("bigint")
        .alias("id"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    nn = base0.agg(F.count(F.lit(1)).cast("bigint").alias("nr"))
    base = (
        base0.crossJoin(F.broadcast(nn))
        .filter(
            F.expr(
                "CAST(CONV(SUBSTR(MD5(CONCAT(CAST(id AS STRING), ':as')),"
                " 1, 8), 16, 10) AS BIGINT)"
                f" < CAST(4294967296.0 * LEAST(1.0,"
                f" CAST({_BOOT_MAX_ROWS} AS DOUBLE) / nr) AS BIGINT)"
            )
        )
        .drop("nr")
    )
    # spread the bounded sample across the session's parallelism before
    # the xR md5 expansion (single-split scan otherwise = one task);
    # localCheckpoint (r15): the sample is bounded (~_BOOT_MAX_ROWS) and
    # consumed by multiple lazy branches — the randomization-core
    # precedent (3 lineitem scans -> 1 in the plan)
    base = spread(base, width_from=base0).localCheckpoint(eager=True)
    # the u32 draw is hoisted into its OWN column: embedding it 6x
    # inside the threshold CASE chain defeats codegen CSE when wrapped
    # in the r=0 branch (measured 30s -> 4.3s at sf0.01 x101 reps)
    w_expr = "CASE WHEN r = 0 THEN 1 ELSE " + " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _POIS_T
    ) + " END"
    drawn = (
        base.withColumn(
            "r", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R)))
        )
        .withColumn("u", F.expr(_u32_sql("id", "ab")))
        .withColumn("w", F.expr(w_expr))  # ONE md5 per (row, replicate)
        .groupBy("r", "v")
        .agg(
            F.sum(F.col("w") * F.col("pos"))
            .cast("decimal(38,0)")
            .alias("wp"),
            F.sum(F.col("w") * (1 - F.col("pos")))
            .cast("decimal(38,0)")
            .alias("wn"),
        )
    )
    tot = base.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("n_neg"),
    )
    sampled = nn.select(
        (F.col("nr") > F.lit(_BOOT_MAX_ROWS)).alias("sampled")
    )
    return _boot_auc_ci(drawn, tot).crossJoin(F.broadcast(sampled))


# --------------------------------------------------------------------------
# Cell-sufficiency bootstrap CI for ROC AUC — the corpus-size-INDEPENDENT
# form (one draw per (value-cell, replicate), not per row)
# --------------------------------------------------------------------------

#: Irwin–Hall uniform count for the cell draw's normal surrogate.
_IH_K = 12


def _ih12_z(u32_fn, id_expr: str) -> str:
    """Standard-normal surrogate z = (Σ_{j=1..12} u_j) − 6 from twelve
    independent md5-u32 draws (Irwin–Hall-12: mean 0, variance exactly
    1, support [−6, 6]). Every operation is IEEE-exact and the addition
    chain is emitted left-associated, so Spark, DuckDB, and the Python
    test twin produce bit-identical doubles. ``u32_fn`` is the
    per-dialect u32 generator (:func:`_u32_sql` / :func:`_u32_duck`)."""
    terms = [
        f"(CAST({u32_fn(id_expr, f'cb{j}')} AS DOUBLE) / 4294967296.0)"
        for j in range(1, _IH_K + 1)
    ]
    s = terms[0]
    for t in terms[1:]:
        s = f"({s} + {t})"
    return f"({s} - 6.0)"


#: Cornish–Fisher Poisson(n) quantile surrogate applied to a hoisted z
#: column: W = max(0, round(n + √n·z + (z²−1)/6)) — matches Poisson's
#: mean, variance AND third moment (skewness 1/√n). Shared literal
#: between the Spark plan and the oracle; replicate 0 is the all-ones
#: point estimate (W = n exactly).
_CELL_W_SQL = (
    "CASE WHEN r = 0 THEN n ELSE "
    "GREATEST(CAST(0 AS BIGINT), "
    "CAST(FLOOR(CAST(n AS DOUBLE) + SQRT(CAST(n AS DOUBLE)) * z "
    "+ (z * z - 1.0) / 6.0 + 0.5) AS BIGINT)) END"
)

_CELL_ID_SPARK = "CONCAT(CAST(v AS STRING), ':', CAST(pos AS STRING))"
_CELL_ID_DUCK = "CAST(v AS VARCHAR) || ':' || CAST(pos AS VARCHAR)"


@register(
    "eval_auc_bootstrap_cell_ci",
    oracle=f"""
    WITH base AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem
    ),
    cells AS (
        SELECT v, pos, CAST(COUNT(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2
    ),
    grid AS (
        SELECT c.v, c.pos, c.n, g.r
        FROM cells c,
             (SELECT UNNEST(GENERATE_SERIES(0, {_BOOT_R})) AS r) g
    ),
    drawn AS (
        SELECT r, v, pos, n,
               {_ih12_z(_u32_duck, _CELL_ID_DUCK)} AS z
        FROM grid
    ),
    wts AS (
        SELECT r, v, pos, {_CELL_W_SQL} AS w FROM drawn
    ),
    awb AS (
        SELECT r, v,
               CAST(SUM(CASE WHEN pos = 1 THEN w ELSE 0 END)
                    AS DECIMAL(38,0)) AS wp,
               CAST(SUM(CASE WHEN pos = 0 THEN w ELSE 0 END)
                    AS DECIMAL(38,0)) AS wn
        FROM wts GROUP BY 1, 2
    ),
    {_AUC_BOOT_RANKED_DUCK}
    SELECT (SELECT CAST(SUM(CASE WHEN pos = 1 THEN n ELSE 0 END)
                        AS BIGINT) FROM cells) AS n_pos,
           (SELECT CAST(SUM(CASE WHEN pos = 0 THEN n ELSE 0 END)
                        AS BIGINT) FROM cells) AS n_neg,
           (SELECT ROUND(m, 6) FROM rep WHERE r = 0) AS auc,
           ROUND(MIN(CASE WHEN rk = {_BOOT_LO_RK} THEN m END), 6) AS ci_lo,
           ROUND(MIN(CASE WHEN rk = {_BOOT_HI_RK} THEN m END), 6) AS ci_hi
    FROM ranked
    """,
)
def eval_auc_bootstrap_cell_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EV — ROC AUC bootstrap 95% CI in the CELL-SUFFICIENCY form: the
    at-scale twin of :func:`eval_auc_bootstrap_ci` that does ONE draw
    per (value-cell, class, replicate) instead of one per (row,
    replicate), making the bootstrap corpus-size-INDEPENDENT after the
    single counting scan.

    Derivation (the r12 docstring's reduction, now code): the per-row
    form's cell weight sum is Σ_{rows in cell} Poisson(1) ~ Poisson(N),
    so the replicate's sufficient statistics need only one Poisson(N)
    draw per cell. An exact inverse-CDF scan of Poisson(N) is O(√N)
    integer support per draw and needs libm transcendentals whose last
    bits differ across engines; instead W is drawn from the
    CORNISH–FISHER quantile surrogate W = max(0, round(N + √N·z +
    (z²−1)/6)) with z an Irwin–Hall-12 uniform sum — it matches
    Poisson(N)'s mean, variance, and third moment (skewness 1/√N),
    uses only IEEE-exact arithmetic (+, ×, /, √, floor — no ln/exp),
    and its CDF distance to exact Poisson(N) is O(1/N): < 0.4% at the
    smallest fixture cell (N≈250 at sf0.001), < 1e-5 at 100 TB cells.
    Replicate 0 sets W = N exactly, so the point estimate is
    bit-identical to eval_auc_bootstrap_ci's (both collapse to the
    unweighted exact midrank AUC) — the equivalence test pins this.

    Exactness: twelve md5-u32 draws per (cell, replicate) against the
    shared left-associated addition chain (Spark, DuckDB, and the
    Python twin parse the same token order), z HOISTED into its own
    projection (the r12 codegen-CSE lesson), weighted midrank algebra
    in DECIMAL(38,0), CI by ceil(0.025R)/ceil(0.975R) order-statistic
    selection via the bounded replicate-grid pair join.

    Scale: ONE corpus scan (the 22-cell count aggregate, map-side
    combined); everything after is (cells × replicates) ≈ 2.2k rows of
    grid algebra — the 100 TB cost is the scan, full stop. The per-row
    form stays registered as the textbook validation twin; its ×101
    row expansion is this query's oracle-checked cross-check, not the
    plan you'd run at scale."""
    base = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    return auc_bootstrap_cell(base)


def auc_bootstrap_cell(scored: DataFrame) -> DataFrame:
    """(n_pos, n_neg, auc, ci_lo, ci_hi) — the library form of
    :func:`eval_auc_bootstrap_cell_ci` (its registered oracle-checked
    instance) over any scored frame with integer column ``v`` (the
    score, quantized to a bounded value grid) and 0/1 column ``pos``
    (the class label). One counting scan, then (cells × replicates)
    grid algebra — corpus-size-independent."""
    cells = scored.groupBy("v", "pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # ~22 rows; consumed by the replicate grid AND the n_pos/n_neg
    # totals — checkpoint so the corpus is scanned exactly once.
    cells = cells.localCheckpoint(eager=True)
    drawn = (
        cells.withColumn(
            "r", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R)))
        )
        .withColumn("z", F.expr(_ih12_z(_u32_sql, _CELL_ID_SPARK)))
        .withColumn("w", F.expr(_CELL_W_SQL))
    )
    awb = drawn.groupBy("r", "v").agg(
        F.sum(F.when(F.col("pos") == 1, F.col("w")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("wp"),
        F.sum(F.when(F.col("pos") == 0, F.col("w")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("wn"),
    )
    tot = cells.agg(
        F.sum(F.when(F.col("pos") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("pos") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
    )
    return _boot_auc_ci(awb, tot)


# --------------------------------------------------------------------------
# Equivalence testing (TOST via CI inclusion, Schuirmann 1987)
# --------------------------------------------------------------------------

#: z_{0.95} for the 90% CI that decides TOST at alpha = 0.05.
_Z90 = "1.6448536269514722"

#: Equivalence margin: +-5% of the global mean (exact rational 1/20).
_TOST_NUM, _TOST_DEN = 1, 20


@register(
    "stat_equivalence_tost",
    oracle=f"""
    WITH {_WK_Q_BASE_DUCK},
    {_WK_MOMS_DUCK},
    gmean AS (
        SELECT CAST(SUM(q) AS DOUBLE) / 100.0 / COUNT(*) AS mu
        FROM base
    ),
    ci AS (
        SELECT m.event_type, m.n1 AS n_weekend, m.n2 AS n_weekday,
               ROUND((CAST(m.s1 AS DOUBLE) / m.n1
                      - CAST(m.s2 AS DOUBLE) / m.n2) / 100.0, 9) AS diff,
               ROUND({_Z90}
                     * (SQRT((CAST(m.ss1 AS DOUBLE)
                              - CAST(m.s1 AS DOUBLE)
                                * CAST(m.s1 AS DOUBLE) / m.n1
                              + CAST(m.ss2 AS DOUBLE)
                              - CAST(m.s2 AS DOUBLE)
                                * CAST(m.s2 AS DOUBLE) / m.n2)
                             / (m.n1 + m.n2 - 2)) / 100.0)
                     * SQRT(1.0 / m.n1 + 1.0 / m.n2), 9) AS half,
               ROUND(g.mu * {_TOST_NUM} / {_TOST_DEN}, 9) AS delta
        FROM moms m, gmean g
    )
    SELECT event_type, n_weekend, n_weekday,
           ROUND(diff, 6) AS mean_diff,
           ROUND(diff - half, 6) AS ci90_lo,
           ROUND(diff + half, 6) AS ci90_hi,
           ROUND(delta, 6) AS margin,
           (diff - half > -delta AND diff + half < delta) AS equivalent
    FROM ci
    """,
)
def stat_equivalence_tost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — EQUIVALENCE test (TOST, Schuirmann 1987) for the
    weekend-vs-weekday mean per type: "can we affirmatively conclude
    the difference is inside ±δ?" — the question a non-significant
    t-test can NOT answer (absence of evidence ≠ evidence of absence;
    this is the do-no-harm launch criterion for guardrail metrics).
    Decided by the standard CI-inclusion equivalence: equivalent iff
    the 90% CI for the difference lies strictly inside (−δ, δ), which
    is exactly TOST at α = 0.05; δ = 5% of the global mean (exact
    rational margin 1/20). Completes the experimentation suite:
    stat_power_mde (design), stat_msprt_sequential (monitoring),
    stat_effect_sizes (magnitude), stat_equivalence_tost (parity
    claims).

    Exactness: same exact integer moments as the effect-size family;
    diff, CI half-width, and δ each round to the 9-grid BEFORE the
    strict-inequality inclusion decision, so the boolean is
    deterministic cross-engine; z_{{0.95}} is a shared literal.

    Scale: one map-side-combined moment aggregate + a 1-row global
    mean; K rows of algebra."""
    e = _weekend_split(spark, sf_dir)
    moms = _two_sample_moments(e)
    gmean = e.agg(
        (F.sum("q").cast("double") / 100.0 / F.count(F.lit(1))).alias("mu")
    )
    diff = F.round(
        (
            F.col("s1").cast("double") / F.col("n1")
            - F.col("s2").cast("double") / F.col("n2")
        )
        / 100.0,
        9,
    )
    half = F.round(
        F.expr(_Z90)
        * (_pooled_sd() / 100.0)
        * F.sqrt(1.0 / F.col("n1") + 1.0 / F.col("n2")),
        9,
    )
    delta = F.round(
        F.col("mu") * _TOST_NUM / _TOST_DEN, 9
    )
    ci = moms.crossJoin(F.broadcast(gmean)).select(
        "event_type",
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        diff.alias("diff"),
        half.alias("half"),
        delta.alias("delta"),
    )
    return ci.select(
        "event_type",
        "n_weekend",
        "n_weekday",
        F.round("diff", 6).alias("mean_diff"),
        F.round(F.col("diff") - F.col("half"), 6).alias("ci90_lo"),
        F.round(F.col("diff") + F.col("half"), 6).alias("ci90_hi"),
        F.round("delta", 6).alias("margin"),
        (
            (F.col("diff") - F.col("half") > -F.col("delta"))
            & (F.col("diff") + F.col("half") < F.col("delta"))
        ).alias("equivalent"),
    )


# --------------------------------------------------------------------------
# Round 13: paired-model comparison tests (McNemar, Cochran's Q)
# --------------------------------------------------------------------------

#: chi-square 0.95 critical values for df=1 / df=2, shared literals.
_CHI2_95_DF1 = "3.841458820694124"
_CHI2_95_DF2 = "5.991464547107979"


@register(
    "eval_mcnemar_paired",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               CASE WHEN value > 50 THEN 1 ELSE 0 END AS ya,
               CASE WHEN DAYOFWEEK(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS yb
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ya * (1 - yb)) AS BIGINT) AS b,
               CAST(SUM((1 - ya) * yb) AS BIGINT) AS c
        FROM base GROUP BY 1
    )
    SELECT event_type, n, b, c,
           CASE WHEN b + c = 0 THEN NULL
                ELSE ROUND(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 6)
           END AS chi2,
           CASE WHEN b + c = 0 THEN NULL
                ELSE ROUND(CAST(GREATEST(ABS(b - c) - 1, 0)
                                * GREATEST(ABS(b - c) - 1, 0) AS DOUBLE)
                           / (b + c), 6)
           END AS chi2_cc,
           CASE WHEN b + c = 0 THEN FALSE
                ELSE CAST(GREATEST(ABS(b - c) - 1, 0)
                          * GREATEST(ABS(b - c) - 1, 0) AS DOUBLE)
                     / (b + c) > {_CHI2_95_DF1}
           END AS rejected
    FROM m
    """,
)
def eval_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — McNEMAR's test (McNemar 1947) per event type: do two binary
    classifiers disagree symmetrically on the SAME items? The paired
    model-comparison test every eval harness needs — comparing two
    models' per-item pass/fail with independent-sample tests overstates
    significance because the items are shared; McNemar conditions on
    the discordant pairs only. Fixture: item = event row, model A =
    value > 50, model B = weekend. b = #(A only), c = #(B only);
    χ² = (b−c)²/(b+c), plus Edwards' continuity-corrected
    (|b−c|−1)²/(b+c) which drives the α = 0.05 rejection.

    Exactness: b and c are exact integer counts; each statistic is one
    IEEE division rounded to 6; degenerate b+c = 0 emits NULL via the
    same CASE on both engines; the rejection compares the UNROUNDED
    double against the shared χ²₀.₉₅,df1 literal.

    Scale: one map-side-combined aggregate to 5 rows. Nothing else."""
    base = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("value") > 50, 1).otherwise(0).alias("ya"),
        F.when(
            F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("yb"),
    )
    return mcnemar_paired(base)


def mcnemar_paired(paired: DataFrame) -> DataFrame:
    """(event_type, n, b, c, chi2, chi2_cc, rejected) — McNemar's paired
    test. Frame-level core of :func:`eval_mcnemar_paired` (the library
    form the Engine facade exposes): ``paired`` has columns
    (event_type group key, ya 0/1, yb 0/1) — one row per shared item."""
    m = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("ya") * (1 - F.col("yb"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("ya")) * F.col("yb")).cast("bigint").alias("c"),
    )
    d = F.col("b") - F.col("c")
    dc = F.greatest(F.abs(d) - 1, F.lit(0))
    bc = F.col("b") + F.col("c")
    chi2_cc_raw = (dc * dc).cast("double") / bc
    return m.select(
        "event_type",
        "n",
        "b",
        "c",
        F.when(bc == 0, F.lit(None).cast("double"))
        .otherwise(F.round((d * d).cast("double") / bc, 6))
        .alias("chi2"),
        F.when(bc == 0, F.lit(None).cast("double"))
        .otherwise(F.round(chi2_cc_raw, 6))
        .alias("chi2_cc"),
        F.when(bc == 0, F.lit(False))
        .otherwise(chi2_cc_raw > F.expr(_CHI2_95_DF1))
        .alias("rejected"),
    )


@register(
    "eval_cochran_q",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               CASE WHEN value > 50 THEN 1 ELSE 0 END AS ya,
               CASE WHEN DAYOFWEEK(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS yb,
               CASE WHEN CAST(event_id AS BIGINT) % 2 = 0
                    THEN 1 ELSE 0 END AS yc
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ya) AS BIGINT) AS ca,
               CAST(SUM(yb) AS BIGINT) AS cb,
               CAST(SUM(yc) AS BIGINT) AS cc,
               CAST(SUM((ya + yb + yc) * (ya + yb + yc)) AS BIGINT) AS sr2
        FROM base GROUP BY 1
    )
    SELECT event_type, n, ca, cb, cc,
           CASE WHEN 3 * (ca + cb + cc) - sr2 = 0 THEN NULL
                ELSE ROUND(CAST(2 * (3 * (ca * ca + cb * cb + cc * cc)
                                     - (ca + cb + cc) * (ca + cb + cc))
                                AS DOUBLE)
                           / (3 * (ca + cb + cc) - sr2), 6)
           END AS q_stat,
           CASE WHEN 3 * (ca + cb + cc) - sr2 = 0 THEN FALSE
                ELSE CAST(2 * (3 * (ca * ca + cb * cb + cc * cc)
                               - (ca + cb + cc) * (ca + cb + cc))
                          AS DOUBLE)
                     / (3 * (ca + cb + cc) - sr2) > {_CHI2_95_DF2}
           END AS rejected
    FROM m
    """,
)
def eval_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — COCHRAN's Q (Cochran 1950) per event type: the k-treatment
    generalization of McNemar — do THREE binary classifiers have equal
    marginal pass rates on the same items? Fixture: item = event row;
    outcomes A = value > 50, B = weekend, C = even event_id.
    Q = (k−1)·(k·ΣC_j² − (ΣC_j)²) / (k·ΣR_i − ΣR_i²) with C_j the
    per-classifier totals and R_i the per-item row sums — every term an
    exact integer, ONE IEEE division, rejection vs the shared
    χ²₀.₉₅,df2 literal on the unrounded double.

    Scale: one map-side-combined aggregate (the row sums fold inside
    it) to 5 rows."""
    base = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("value") > 50, 1).otherwise(0).alias("ya"),
        F.when(
            F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("yb"),
        F.when(F.col("event_id").cast("bigint") % 2 == 0, 1)
        .otherwise(0)
        .alias("yc"),
    )
    return cochran_q(base)


def cochran_q(paired: DataFrame) -> DataFrame:
    """(event_type, n, ca, cb, cc, q_stat, rejected) — Cochran's Q over
    k = 3 treatments. Frame-level core of :func:`eval_cochran_q` (the
    library form the
    Engine facade exposes): ``paired`` has columns (event_type group
    key, ya, yb, yc all 0/1) — one row per shared item, k = 3."""
    r = F.col("ya") + F.col("yb") + F.col("yc")
    m = paired.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ya").cast("bigint").alias("ca"),
        F.sum("yb").cast("bigint").alias("cb"),
        F.sum("yc").cast("bigint").alias("cc"),
        F.sum(r * r).cast("bigint").alias("sr2"),
    )
    g = F.col("ca") + F.col("cb") + F.col("cc")
    num = 2 * (
        3
        * (
            F.col("ca") * F.col("ca")
            + F.col("cb") * F.col("cb")
            + F.col("cc") * F.col("cc")
        )
        - g * g
    )
    den = 3 * g - F.col("sr2")
    q_raw = num.cast("double") / den
    return m.select(
        "event_type",
        "n",
        "ca",
        "cb",
        "cc",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(q_raw, 6))
        .alias("q_stat"),
        F.when(den == 0, F.lit(False))
        .otherwise(q_raw > F.expr(_CHI2_95_DF2))
        .alias("rejected"),
    )


# --------------------------------------------------------------------------
# Krippendorff's alpha (nominal) — the agreement coefficient that also
# handles the Fleiss fixture, with a different chance model
# --------------------------------------------------------------------------


@register(
    "stat_krippendorff_alpha",
    oracle=f"""
    WITH {_FLEISS_NIJ_DUCK},
    agg AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS DECIMAL(38,0)) AS n_items,
               CAST(SUM(nij * nij) AS DECIMAL(38,0)) AS s_in
        FROM nij
    ),
    cat AS (
        SELECT CAST(SUM(cj * cj) AS DECIMAL(38,0)) AS s_c
        FROM (SELECT CAST(SUM(nij) AS DECIMAL(19,0)) AS cj
              FROM nij GROUP BY event_type)
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
           {_FLEISS_N} AS n_raters,
           ROUND(CAST(n_items * {_FLEISS_N * _FLEISS_N} - s_in AS DOUBLE)
                 / CAST(n_items * {_FLEISS_N * (_FLEISS_N - 1)}
                        AS DOUBLE), 6) AS d_o,
           ROUND(CAST(n_items * n_items * {_FLEISS_N * _FLEISS_N} - s_c
                      AS DOUBLE)
                 / CAST(n_items * {_FLEISS_N}
                        * (n_items * {_FLEISS_N} - 1) AS DOUBLE), 6)
               AS d_e,
           ROUND(1.0
                 - CAST((n_items * {_FLEISS_N * _FLEISS_N} - s_in)
                        * n_items * {_FLEISS_N}
                        * (n_items * {_FLEISS_N} - 1) AS DOUBLE)
                   / CAST(n_items * {_FLEISS_N * (_FLEISS_N - 1)}
                          * (n_items * n_items * {_FLEISS_N * _FLEISS_N}
                             - s_c) AS DOUBLE), 6) AS alpha
    FROM agg, cat
    """,
)
def stat_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — KRIPPENDORFF's alpha (nominal metric, Krippendorff 1970):
    chance-corrected agreement over the same panel fixture as
    eval_fleiss_kappa (item = user_id, 5 "ratings" = the first 5 event
    types by (ts, event_id)) — the agreement coefficient annotation
    teams actually standardize on, because unlike Fleiss' κ its chance
    model (D_e from the pooled category marginals WITHOUT replacement,
    n_tot(n_tot−1) pairs) is sample-size consistent and generalizes to
    missing ratings and ordinal metrics. α = 1 − D_o/D_e with
        D_o = (N·m² − Σ n_uc²) / (N·m(m−1)),
        D_e = (n_tot² − Σ n_c²) / (n_tot(n_tot−1)),  n_tot = N·m.

    Exactness: α is carried as ONE exact integer fraction — the
    identity α = 1 − (N·m²−Σn_uc²)·n_tot(n_tot−1) /
    (N·m(m−1)·(n_tot²−Σn_c²)) clears every denominator, so numerator
    and denominator are exact DECIMAL(38,0) on both engines (terms are
    O(N³·m⁴) ≈ 10^25 at 10^4 scale, inside 10^38) and the terminal
    division is one IEEE op rounded 6. D_o and D_e are emitted the same
    way as audit columns.

    Scale: identical to Fleiss — bounded per-user first-n windows, then
    (user × category) counts folding to one row."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ratings = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _FLEISS_N)
    return krippendorff_alpha(
        ratings, item="user_id", category="event_type", n_raters=_FLEISS_N
    )


def krippendorff_alpha(
    ratings: DataFrame, item: str, category: str, n_raters: int
) -> DataFrame:
    """(n_items, n_raters, d_o, d_e, alpha) — nominal Krippendorff's
    alpha over a ratings frame with exactly ``n_raters`` rows per item
    (the library form the Engine facade exposes;
    ``stat_krippendorff_alpha`` is its registered oracle-checked
    instance)."""
    m = n_raters
    nij = ratings.groupBy(item, category).agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    agg = nij.agg(
        F.countDistinct(item).cast("decimal(38,0)").alias("n_items"),
        F.sum(F.col("nij") * F.col("nij"))
        .cast("decimal(38,0)")
        .alias("s_in"),
    )
    cat = (
        nij.groupBy(category)
        .agg(F.sum("nij").cast("decimal(19,0)").alias("cj"))
        .agg(
            F.sum(F.col("cj") * F.col("cj"))
            .cast("decimal(38,0)")
            .alias("s_c")
        )
    )
    j = agg.crossJoin(F.broadcast(cat))
    ni = F.col("n_items")
    ntot = ni * m
    don = ni * (m * m) - F.col("s_in")
    den_e = ni * ni * (m * m) - F.col("s_c")
    # single-category corpus ⇒ den_e = 0 ⇒ α undefined (the r15 ANSI
    # sweep found the REVIEW_r14 "NULL on both engines" claim wrong:
    # ANSI Spark THREW here); single-rating corpus (ntot ≤ 1) ⇒ D_e
    # undefined. NULL on both engines.
    null_d = F.lit(None).cast("double")
    return j.select(
        ni.cast("bigint").alias("n_items"),
        F.lit(m).alias("n_raters"),
        F.round(
            don.cast("double") / (ni * (m * (m - 1))).cast("double"), 6
        ).alias("d_o"),
        F.when(ntot <= 1, null_d)
        .otherwise(
            F.round(
                den_e.cast("double") / (ntot * (ntot - 1)).cast("double"),
                6,
            )
        )
        .alias("d_e"),
        F.when(den_e == 0, null_d)
        .otherwise(
            F.round(
                1.0
                - (don * ntot * (ntot - 1)).cast("double")
                / (ni * (m * (m - 1)) * den_e).cast("double"),
                6,
            )
        )
        .alias("alpha"),
    )


# --------------------------------------------------------------------------
# DeLong SE for ROC AUC — the ANALYTIC twin of the bootstrap CI family
# --------------------------------------------------------------------------

#: z_{0.975} for the 95% DeLong CI, shared literal.
_Z95 = "1.959963984540054"


#: DuckDB DeLong variance of the AUC from the placement moments ``m``
#: (m10/q10, m01/q01) and class totals ``t`` (np, nn) — the radicand of
#: the se and of both CI bounds in the eval_auc_delong_se oracle.
_DELONG_VAR_DUCK = """((CAST(m.q10 AS DOUBLE)
                 - CAST(m.m10 AS DOUBLE) * CAST(m.m10 AS DOUBLE) / t.np)
                / (t.np - 1)
                / (4.0 * CAST(t.nn AS DOUBLE) * CAST(t.nn AS DOUBLE)))
               / t.np
               + ((CAST(m.q01 AS DOUBLE)
                   - CAST(m.m01 AS DOUBLE) * CAST(m.m01 AS DOUBLE) / t.nn)
                  / (t.nn - 1)
                  / (4.0 * CAST(t.np AS DOUBLE) * CAST(t.np AS DOUBLE)))
                 / t.nn"""


@register(
    "eval_auc_delong_se",
    oracle=f"""
    WITH base AS (
        SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
        FROM lineitem
    ),
    grid AS (
        SELECT v,
               CAST(SUM(pos) AS BIGINT) AS wp,
               CAST(SUM(1 - pos) AS BIGINT) AS wn
        FROM base GROUP BY 1
    ),
    cum AS (
        SELECT x.v, x.wp, x.wn,
               CAST(COALESCE(SUM(y.wn), 0) AS BIGINT) AS cwn,
               CAST(COALESCE(SUM(y.wp), 0) AS BIGINT) AS cwp
        FROM grid x LEFT JOIN grid y ON y.v < x.v
        GROUP BY 1, 2, 3
    ),
    tots AS (
        SELECT CAST(SUM(wp) AS BIGINT) AS np,
               CAST(SUM(wn) AS BIGINT) AS nn
        FROM grid
    ),
    moms AS (
        SELECT CAST(SUM(CAST(wp AS DECIMAL(38,0))
                        * CAST(2 * cwn + wn AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS m10,
               CAST(SUM(CAST(wp AS DECIMAL(38,0))
                        * CAST(2 * cwn + wn AS DECIMAL(38,0))
                        * CAST(2 * cwn + wn AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS q10,
               CAST(SUM(CAST(wn AS DECIMAL(38,0))
                        * CAST(2 * (t.np - cwp - wp) + wp
                               AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS m01,
               CAST(SUM(CAST(wn AS DECIMAL(38,0))
                        * CAST(2 * (t.np - cwp - wp) + wp
                               AS DECIMAL(38,0))
                        * CAST(2 * (t.np - cwp - wp) + wp
                               AS DECIMAL(38,0)))
                    AS DECIMAL(38,0)) AS q01
        FROM cum, tots t
    )
    SELECT t.np AS n_pos, t.nn AS n_neg,
           ROUND(CAST(m.m10 AS DOUBLE)
                 / (2.0 * CAST(t.np AS DOUBLE) * CAST(t.nn AS DOUBLE)),
                 6) AS auc,
           ROUND(SQRT(
               {_DELONG_VAR_DUCK}), 6) AS se_delong,
           ROUND(CAST(m.m10 AS DOUBLE)
                 / (2.0 * CAST(t.np AS DOUBLE) * CAST(t.nn AS DOUBLE))
                 - {_Z95} * SQRT(
               {_DELONG_VAR_DUCK}), 6) AS ci_lo,
           ROUND(CAST(m.m10 AS DOUBLE)
                 / (2.0 * CAST(t.np AS DOUBLE) * CAST(t.nn AS DOUBLE))
                 + {_Z95} * SQRT(
               {_DELONG_VAR_DUCK}), 6) AS ci_hi
    FROM moms m, tots t
    """,
)
def eval_auc_delong_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — DeLONG standard error and 95% CI for ROC AUC (DeLong,
    DeLong & Clarke-Pearson 1988, with Sun & Xu's midrank tie
    treatment), computed fully distributed on the VALUE GRID: the
    ANALYTIC uncertainty twin of eval_auc_bootstrap_cell_ci — zero
    replicates, one counting scan, grid algebra after.

    Derivation: the AUC is the mean of per-positive placement values
    V10_i = (#neg below + ½·#neg tied)/WN and symmetrically V01_j per
    negative; DeLong's SE² = S10/m + S01/n with S10/S01 the sample
    variances of the placements. All positives at grid value v share
    the same placement t10(v) = 2·cwn + wn (an exact INTEGER in
    1/(2WN) units; t01(v) = 2(WP−cwp−wp) + wp), so the variances
    reduce to grid-weighted moments Σ wp·t10, Σ wp·t10² — exact
    DECIMAL(38,0) accumulators, one fixed-order IEEE expression at the
    end (the emitted auc is algebraically the same midrank AUC as
    eval_auc_exact; the bootstrap CI and this CI agree asymptotically,
    pinned in tests).

    Scale: ONE corpus scan to the 11-cell grid; everything after is
    grid-sized. The classic alternative — per-item placements via a
    corpus-wide rank join — is O(N) state; this form is
    corpus-size-independent after the scan, like the cell bootstrap."""
    base = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    return auc_delong_se(base)


def auc_delong_se(scored: DataFrame) -> DataFrame:
    """(n_pos, n_neg, auc, se_delong, ci_lo, ci_hi) — DeLong analytic
    AUC SE and 95% CI over any scored frame with integer column ``v``
    (bounded value grid) and 0/1 column ``pos`` (the library form the
    Engine facade exposes; ``eval_auc_delong_se`` is its registered
    oracle-checked instance)."""
    grid = scored.groupBy("v").agg(
        F.sum("pos").cast("bigint").alias("wp"),
        F.sum(1 - F.col("pos")).cast("bigint").alias("wn"),
    )
    grid = grid.localCheckpoint(eager=True)  # grid-sized; consumed 3x
    # cumulative counts via the bounded GRID PAIR JOIN (the stat_bh_fdr
    # rule) — no unpartitioned window; the join is |grid|² rows by
    # construction
    x = grid.select(
        F.col("v"), F.col("wp"), F.col("wn")
    )
    y = grid.select(
        F.col("v").alias("yv"),
        F.col("wp").alias("ywp"),
        F.col("wn").alias("ywn"),
    )
    cum = (
        x.join(y, F.col("yv") < F.col("v"), "left")
        .groupBy("v", "wp", "wn")
        .agg(
            F.coalesce(F.sum("ywn"), F.lit(0))
            .cast("bigint")
            .alias("cwn"),
            F.coalesce(F.sum("ywp"), F.lit(0))
            .cast("bigint")
            .alias("cwp"),
        )
    )
    tots = grid.agg(
        F.sum("wp").cast("bigint").alias("np"),
        F.sum("wn").cast("bigint").alias("nn"),
    )
    j = cum.crossJoin(F.broadcast(tots))
    # placements as DECIMAL(38,0) BEFORE multiplying: wp·t10² is
    # ~N³/grid and overflows int64 already at 10x sf0.1 (caught by the
    # backward 10x leg — the third real defect the rule has found)
    t10 = (2 * F.col("cwn") + F.col("wn")).cast("decimal(38,0)")
    t01 = (
        2 * (F.col("np") - F.col("cwp") - F.col("wp")) + F.col("wp")
    ).cast("decimal(38,0)")
    wp_d = F.col("wp").cast("decimal(38,0)")
    wn_d = F.col("wn").cast("decimal(38,0)")
    moms = j.agg(
        F.sum(wp_d * t10).cast("decimal(38,0)").alias("m10"),
        F.sum(wp_d * t10 * t10).cast("decimal(38,0)").alias("q10"),
        F.sum(wn_d * t01).cast("decimal(38,0)").alias("m01"),
        F.sum(wn_d * t01 * t01).cast("decimal(38,0)").alias("q01"),
        F.min("np").alias("np"),
        F.min("nn").alias("nn"),
    )
    np_, nn_ = F.col("np"), F.col("nn")
    auc = F.col("m10").cast("double") / (
        2.0 * np_.cast("double") * nn_.cast("double")
    )
    var10 = (
        (
            F.col("q10").cast("double")
            - F.col("m10").cast("double") * F.col("m10").cast("double") / np_
        )
        / (np_ - 1)
        / (4.0 * nn_.cast("double") * nn_.cast("double"))
    )
    var01 = (
        (
            F.col("q01").cast("double")
            - F.col("m01").cast("double") * F.col("m01").cast("double") / nn_
        )
        / (nn_ - 1)
        / (4.0 * np_.cast("double") * np_.cast("double"))
    )
    se = F.sqrt(var10 / np_ + var01 / nn_)
    z = F.expr(_Z95)
    # degenerate-margin guards (r15 ANSI sweep): a one-class input
    # (np or nn = 0) has no AUC; a single positive/negative (np or
    # nn = 1) zeroes a placement-variance df — ANSI Spark threw on
    # both where DuckDB returns NULL.
    null_d = F.lit(None).cast("double")
    one_class = (np_ == 0) | (nn_ == 0)
    small = (np_ < 2) | (nn_ < 2)
    return moms.select(
        np_.alias("n_pos"),
        nn_.alias("n_neg"),
        F.when(one_class, null_d).otherwise(F.round(auc, 6)).alias("auc"),
        F.when(small, null_d).otherwise(F.round(se, 6)).alias("se_delong"),
        F.when(small, null_d)
        .otherwise(F.round(auc - z * se, 6))
        .alias("ci_lo"),
        F.when(small, null_d)
        .otherwise(F.round(auc + z * se, 6))
        .alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# Murphy decomposition of the Brier score (reliability / resolution /
# uncertainty) — the calibration diagnostic behind every forecast eval
# --------------------------------------------------------------------------


@register(
    "eval_brier_decomposition",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS q,
               CASE WHEN DAYOFWEEK(CAST(ts AS DATE)) IN (0, 6)
                    THEN 1 ELSE 0 END AS o,
               LEAST(9, CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                        // 1000) AS bin
        FROM events
    ),
    bins AS (
        SELECT event_type, bin,
               CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(o) AS BIGINT) AS so,
               CAST(SUM(q) AS DECIMAL(38,0)) AS sq
        FROM base GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o) AS BIGINT) AS so_t,
               CAST(SUM((q - 10000 * o) * (q - 10000 * o))
                    AS DECIMAL(38,0)) AS sbr
        FROM base GROUP BY 1
    ),
    parts AS (
        SELECT b.event_type,
               CAST(SUM(CAST(ROUND(b.nk
                   * (CAST(b.sq AS DOUBLE) / 10000.0 / b.nk
                      - CAST(b.so AS DOUBLE) / b.nk)
                   * (CAST(b.sq AS DOUBLE) / 10000.0 / b.nk
                      - CAST(b.so AS DOUBLE) / b.nk), 9)
                   AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS rel_n,
               CAST(SUM(CAST(ROUND(b.nk
                   * (CAST(b.so AS DOUBLE) / b.nk
                      - CAST(t.so_t AS DOUBLE) / t.n)
                   * (CAST(b.so AS DOUBLE) / b.nk
                      - CAST(t.so_t AS DOUBLE) / t.n), 9)
                   AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS res_n
        FROM bins b JOIN tot t USING (event_type)
        GROUP BY 1
    )
    SELECT t.event_type, t.n,
           ROUND(CAST(t.sbr AS DOUBLE) / 100000000.0 / t.n, 6) AS brier,
           ROUND(CAST(p.rel_n AS DOUBLE) / t.n, 6) AS reliability,
           ROUND(CAST(p.res_n AS DOUBLE) / t.n, 6) AS resolution,
           ROUND((CAST(t.so_t AS DOUBLE) / t.n)
                 * (1.0 - CAST(t.so_t AS DOUBLE) / t.n), 6) AS uncertainty
    FROM tot t JOIN parts p USING (event_type)
    """,
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — MURPHY decomposition of the Brier score (Murphy 1973):
    Brier = Reliability − Resolution + Uncertainty (+ within-bin
    variance for continuous forecasts), per event type. Fixture:
    forecast p = value/100 ∈ [0,1], outcome = weekend, 10 equal-width
    probability bins. Reliability (calibration gap per bin) is the
    number a model eval actually acts on — a good Brier score from an
    uncalibrated-but-sharp model and a calibrated-but-flat one look the
    same until decomposed.

    Exactness: the Brier numerator Σ(q − 10⁴·o)² is an exact
    DECIMAL(38,0) integer (q the 2-decimal-quantized value); per-bin
    reliability/resolution terms are fixed-order IEEE expressions over
    exact integer bin sums, rounded to the 9-grid and accumulated as
    DECIMAL — order-independent, identical both engines; 10 bins × 5
    types of grid algebra after one map-side-combined aggregate.

    Scale: one corpus scan to (type × bin) cells; everything after is
    50 rows. The Murphy identity is pinned in tests with the within-bin
    variance residual asserted non-negative."""
    base = load(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("q"),
        F.when(
            F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("o"),
    ).withColumn(
        "bin",
        F.least(F.lit(9).cast("bigint"), F.expr("q div 1000")),
    )
    return brier_decomposition(base)


def brier_decomposition(scored: DataFrame) -> DataFrame:
    """(event_type, n, brier, reliability, resolution, uncertainty) —
    Murphy decomposition of the Brier score. Frame-level core of
    :func:`eval_brier_decomposition` (the
    library form the Engine facade exposes): ``scored`` has columns
    (event_type group key, q int forecast in [0, 10000] = p·10⁴,
    o 0/1 outcome, bin int bucket id)."""
    # ONE corpus scan (r15): the per-type totals fold exactly out of the
    # per-(type, bin) partials (sums of exact integers/decimals are
    # associative), so the bin grid — checkpointed, it is domain-sized —
    # carries a per-bin Brier partial and the totals are a grid roll-up
    # instead of a second scan.
    bins = (
        scored.groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nk"),
            F.sum("o").cast("bigint").alias("so"),
            F.sum("q").cast("decimal(38,0)").alias("sq"),
            F.sum(
                (F.col("q") - 10000 * F.col("o"))
                * (F.col("q") - 10000 * F.col("o"))
            )
            .cast("decimal(38,0)")
            .alias("sbrk"),
        )
        .localCheckpoint(eager=True)
    )
    tot = bins.groupBy("event_type").agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum("so").cast("bigint").alias("so_t"),
        F.sum("sbrk").cast("decimal(38,0)").alias("sbr"),
    )
    # explicit broadcast: the checkpointed grid loses size estimates, so
    # without the hint the planner can pick a sort-merge join for this
    # kilobyte-scale grid join (the equidepth/lorenz bucketed precedent;
    # ADVICE r15)
    j = bins.select("event_type", "bin", "nk", "so", "sq").join(
        F.broadcast(tot), "event_type"
    )
    dev_rel = (
        F.col("sq").cast("double") / 10000.0 / F.col("nk")
        - F.col("so").cast("double") / F.col("nk")
    )
    dev_res = (
        F.col("so").cast("double") / F.col("nk")
        - F.col("so_t").cast("double") / F.col("n")
    )
    parts = j.groupBy("event_type").agg(
        F.sum(
            F.round(F.col("nk") * dev_rel * dev_rel, 9).cast(
                "decimal(28,9)"
            )
        )
        .cast("decimal(38,9)")
        .alias("rel_n"),
        F.sum(
            F.round(F.col("nk") * dev_res * dev_res, 9).cast(
                "decimal(28,9)"
            )
        )
        .cast("decimal(38,9)")
        .alias("res_n"),
    )
    ob = F.col("so_t").cast("double") / F.col("n")
    return tot.join(parts, "event_type").select(
        "event_type",
        "n",
        F.round(
            F.col("sbr").cast("double") / 100000000.0 / F.col("n"), 6
        ).alias("brier"),
        F.round(F.col("rel_n").cast("double") / F.col("n"), 6).alias(
            "reliability"
        ),
        F.round(F.col("res_n").cast("double") / F.col("n"), 6).alias(
            "resolution"
        ),
        F.round(ob * (1.0 - ob), 6).alias("uncertainty"),
    )


# --------------------------------------------------------------------------
# G-test of independence (likelihood-ratio chi-square) — the asymptotic
# companion to Fisher exact on the same 2x2 margins
# --------------------------------------------------------------------------


@register(
    "stat_g_test",
    oracle=f"""
    WITH {_WK_HI_MARG_DUCK},
    cells AS (
        SELECT event_type, n, o, r, c FROM (
            SELECT event_type, n, a AS o, r1 AS r, c1 AS c FROM marg
            UNION ALL
            SELECT event_type, n, r1 - a, r1, n - c1 FROM marg
            UNION ALL
            SELECT event_type, n, c1 - a, n - r1, c1 FROM marg
            UNION ALL
            SELECT event_type, n, n - r1 - c1 + a, n - r1, n - c1
            FROM marg
        )
    ),
    terms AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN o = 0 THEN CAST(0 AS DECIMAL(28,9))
                   ELSE CAST(ROUND(o * LN(CAST(o AS DOUBLE)
                                          * CAST(n AS DOUBLE)
                                          / (CAST(r AS DOUBLE)
                                             * CAST(c AS DOUBLE))), 9)
                        AS DECIMAL(28,9)) END) AS DECIMAL(38,9)) AS s
        FROM cells GROUP BY 1
    )
    SELECT m.event_type, m.n,
           ROUND(2.0 * CAST(t.s AS DOUBLE), 6) AS g_stat,
           (2.0 * CAST(t.s AS DOUBLE) > {_CHI2_95_DF1}) AS rejected
    FROM marg m JOIN terms t USING (event_type)
    """,
)
def stat_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — G-TEST of independence (likelihood-ratio chi-square,
    Woolf 1957) on the SAME 2×2 margins as stat_fisher_exact and
    agg_chi_square_independence (weekend × high-value per event type):
    G = 2·Σ O·ln(O/E), E = row·col/n — the additive test (G values sum
    across partitioned tables, which Pearson's X² does not), closer to
    the χ² distribution at small expected counts, and the statistic
    mutual-information estimators are built on (G = 2n·MI in nats).

    Exactness: margins are exact integers; each cell's term
    O·ln(O·n/(r·c)) is a fixed-order all-double IEEE expression (the
    ln argument built from double products — deterministic IEEE
    rounding, identical both engines) rounded to the 9-grid and
    DECIMAL-summed, so the 4-term total is order-independent; O = 0
    contributes exactly 0 via the same CASE. Rejection compares the
    unrounded 2·Σ against the shared χ²₀.₉₅,df1 literal.

    Scale: one map-side-combined aggregate to 5 margin rows; the
    4-cell expansion is grid algebra."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("wk"),
        F.when(F.col("value") > 50, 1).otherwise(0).alias("hi"),
    )
    return g_test(e)


def g_test(e: DataFrame) -> DataFrame:
    """(event_type, n, g_stat, rejected) — likelihood-ratio G-test of
    2x2 independence. Frame-level core of :func:`stat_g_test` (the
    library form the
    Engine facade exposes): ``e`` has columns (event_type stratum key,
    wk 0/1 row factor, hi 0/1 column factor)."""
    marg = e.groupBy("event_type").agg(
        F.sum(F.col("wk") * F.col("hi")).cast("bigint").alias("a"),
        F.sum("wk").cast("bigint").alias("r1"),
        F.sum("hi").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    marg = marg.localCheckpoint(eager=True)  # 5 rows; consumed 5x
    cells = None
    for o_expr, r_expr, c_expr in (
        ("a", "r1", "c1"),
        ("r1 - a", "r1", "n - c1"),
        ("c1 - a", "n - r1", "c1"),
        ("n - r1 - c1 + a", "n - r1", "n - c1"),
    ):
        part = marg.select(
            "event_type",
            "n",
            F.expr(o_expr).alias("o"),
            F.expr(r_expr).alias("r"),
            F.expr(c_expr).alias("c"),
        )
        cells = part if cells is None else cells.unionByName(part)
    term = F.when(
        F.col("o") == 0, F.lit(0).cast("decimal(28,9)")
    ).otherwise(
        F.round(
            F.col("o")
            * F.log(
                F.col("o").cast("double")
                * F.col("n").cast("double")
                / (F.col("r").cast("double") * F.col("c").cast("double"))
            ),
            9,
        ).cast("decimal(28,9)")
    )
    terms = cells.groupBy("event_type").agg(
        F.sum(term).cast("decimal(38,9)").alias("s")
    )
    return marg.join(terms, "event_type").select(
        "event_type",
        "n",
        F.round(2.0 * F.col("s").cast("double"), 6).alias("g_stat"),
        (2.0 * F.col("s").cast("double") > F.expr(_CHI2_95_DF1)).alias(
            "rejected"
        ),
    )


# --------------------------------------------------------------------------
# Rank-biased overlap (Webber, Moffat & Zobel 2010) — top-weighted
# agreement between two rankings
# --------------------------------------------------------------------------

#: RBO evaluation depth and persistence, and the per-depth weights
#: (1−p)·p^{d−1} precomputed in Python to 12 decimals — shared literals
#: on both engines (no runtime POWER(), whose libm last bits differ).
_RBO_K = 50
_RBO_P = 0.9
_RBO_W = tuple(
    round((1 - _RBO_P) * _RBO_P ** (d - 1), 12) for d in range(1, _RBO_K + 1)
)
_RBO_PK = round(_RBO_P**_RBO_K, 12)


def _rbo_weight_cases() -> str:
    """CASE mapping depth d → weight literal, valid in both dialects."""
    arms = " ".join(
        f"WHEN d = {d} THEN {w}" for d, w in enumerate(_RBO_W, start=1)
    )
    return f"CASE {arms} END"


@register(
    "eval_rbo_rankings",
    oracle=f"""
    WITH t1 AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r1
        FROM (SELECT doc_id, n_chars FROM documents
              ORDER BY n_chars DESC, doc_id LIMIT {_RBO_K})
    ),
    t2 AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY ntok DESC, doc_id) AS r2
        FROM (SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS ntok
              FROM documents
              ORDER BY LEN(STRING_SPLIT(text, ' ')) DESC, doc_id
              LIMIT {_RBO_K})
    ),
    inter AS (
        SELECT GREATEST(t1.r1, t2.r2) AS m
        FROM t1 JOIN t2 USING (doc_id)
    ),
    depths AS (
        SELECT g.d, CAST(COUNT(b.m) AS BIGINT) AS xd
        FROM (SELECT UNNEST(GENERATE_SERIES(1, {_RBO_K})) AS d) g
        LEFT JOIN inter b ON b.m <= g.d
        GROUP BY g.d
    ),
    terms AS (
        SELECT CAST(SUM(CAST(ROUND(({_rbo_weight_cases()})
                        * CAST(xd AS DOUBLE) / d, 9)
                        AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS s,
               MAX(CASE WHEN d = {_RBO_K} THEN xd END) AS xk
        FROM depths
    )
    SELECT {_RBO_K} AS k, xk AS overlap_at_k,
           ROUND(CAST(xk AS DOUBLE) / {_RBO_K}, 6) AS a_k,
           ROUND(CAST(s AS DOUBLE), 6) AS rbo_trunc,
           ROUND(CAST(s AS DOUBLE)
                 + {_RBO_PK} * CAST(xk AS DOUBLE) / {_RBO_K}, 6) AS rbo_ext
    FROM terms
    """,
)
def eval_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — RANK-BIASED OVERLAP (Webber/Moffat/Zobel 2010) between two
    top-{_RBO_K} document rankings: by character length vs by
    whitespace token count — the TOP-WEIGHTED ranking-agreement metric
    (Kendall/Spearman weight every pair equally; RBO's geometric
    depth weights match how ranked lists are actually consumed, and it
    is well-defined for non-conjoint top-k lists). RBO(p={_RBO_P}) =
    (1−p)·Σ_d p^(d−1)·X_d/d with X_d the depth-d intersection size;
    emits the truncated sum and the min-extrapolation
    rbo_ext = rbo_trunc + p^k·A_k.

    Exactness: X_d reduces to a cumulative count of m = max(r1, r2)
    over the bounded depth grid (a k×k band join — no unbounded
    window); depth weights are PRECOMPUTED 12-decimal literals shared
    by both engines (no runtime POWER), each term rounds to the 9-grid
    and sums as DECIMAL — order-independent.

    Scale: two TakeOrderedAndProject top-k scans (the engine's topk
    machinery — no global sort) + k²-bounded grid algebra. At 100 TB
    the cost is the two scans."""
    d = load(spark, sf_dir, "documents")
    top1 = (
        d.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(_RBO_K)
    )
    w1 = Window.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    t1 = top1.select(
        "doc_id", F.row_number().over(w1).alias("r1")
    )
    top2 = (
        d.select(
            "doc_id", F.size(F.split("text", " ")).alias("ntok")
        )
        .orderBy(F.desc("ntok"), F.asc("doc_id"))
        .limit(_RBO_K)
    )
    w2 = Window.orderBy(F.desc("ntok"), F.asc("doc_id"))
    t2 = top2.select(
        "doc_id", F.row_number().over(w2).alias("r2")
    )
    return rbo_overlap(t1, t2, k=_RBO_K)


def rbo_overlap(
    t1: DataFrame,
    t2: DataFrame,
    k: int = _RBO_K,
    id_col: str | None = None,
) -> DataFrame:
    """(k, overlap_at_k, a_k, rbo_trunc, rbo_ext) — rank-biased overlap
    between two rank frames (columns: shared id + ``r1`` / ``r2``, ranks
    1..k) at persistence p={_RBO_P} (the library form the Engine facade
    exposes; ``eval_rbo_rankings`` is its registered oracle-checked
    instance). ``k`` must be ≤ {_RBO_K} (the precomputed weight grid).
    ``id_col`` names the shared join id explicitly; when omitted, t1
    must have EXACTLY two columns (id + r1) and the inferred id must
    also exist in t2 — anything else raises rather than silently
    joining on the wrong key."""
    if k > _RBO_K:
        raise ValueError(f"rbo_overlap: k={k} exceeds weight grid {_RBO_K}")
    spark = t1.sparkSession
    if id_col is not None:
        if id_col not in t1.columns or id_col not in t2.columns:
            raise ValueError(
                f"rbo_overlap: id_col {id_col!r} must exist in both frames"
                f" (t1={t1.columns}, t2={t2.columns})"
            )
        idc = id_col
    else:
        non_rank = [c for c in t1.columns if c != "r1"]
        if len(t1.columns) != 2 or len(non_rank) != 1:
            raise ValueError(
                "rbo_overlap: without id_col, t1 must have exactly two"
                f" columns (id + 'r1'); got {t1.columns} — pass id_col"
            )
        idc = non_rank[0]
        if idc not in t2.columns:
            raise ValueError(
                f"rbo_overlap: inferred id {idc!r} not in t2 columns"
                f" {t2.columns} — pass id_col"
            )
    both = t1.join(t2, idc).select(
        F.greatest(F.col("r1"), F.col("r2")).alias("m")
    )
    dgrid = spark.range(1, k + 1).select(F.col("id").cast("int").alias("d"))
    depths = (
        dgrid.join(F.broadcast(both), F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count(F.col("m")).cast("bigint").alias("xd"))
    )
    wcase = F.expr(_rbo_weight_cases())
    terms = depths.agg(
        F.sum(
            F.round(
                wcase * F.col("xd").cast("double") / F.col("d"), 9
            ).cast("decimal(28,9)")
        )
        .cast("decimal(38,9)")
        .alias("s"),
        F.max(F.when(F.col("d") == k, F.col("xd"))).alias("xk"),
    )
    return terms.select(
        F.lit(k).alias("k"),
        F.col("xk").alias("overlap_at_k"),
        F.round(F.col("xk").cast("double") / k, 6).alias("a_k"),
        F.round(F.col("s").cast("double"), 6).alias("rbo_trunc"),
        F.round(
            F.col("s").cast("double")
            # extrapolation tail is p^k at the REQUESTED depth, not the
            # grid maximum (r14 fix: k < _RBO_K previously used p^50,
            # deflating rbo_ext; _RBO_PK == round(p^k,12) when k==_RBO_K
            # so the registered k=50 instance is bit-unchanged)
            + F.expr(str(round(_RBO_P**k, 12)))
            * F.col("xk").cast("double")
            / k,
            6,
        ).alias("rbo_ext"),
    )


# --------------------------------------------------------------------------
# CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013)
# --------------------------------------------------------------------------


@register(
    "stat_cuped_adjustment",
    oracle="""
    WITH bounds AS (
        SELECT MIN(ts) + INTERVAL 15 DAYS AS cut FROM events
    ),
    per_user AS (
        SELECT e.user_id,
               CAST(SUM(CASE WHEN e.ts < b.cut
                    THEN CAST(FLOOR(e.value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN e.ts >= b.cut
                    THEN CAST(FLOOR(e.value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
        FROM events e, bounds b
        GROUP BY 1
    ),
    moms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(38,0))
                        * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(CAST(x AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(CAST(y AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
        FROM per_user
    )
    SELECT n AS n_users,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
           ROUND(CAST(sy AS DOUBLE) / 100.0 / n, 6) AS mean_y,
           ROUND(CAST(n * syy - sy * sy AS DOUBLE)
                 / 10000.0 / CAST(n AS DOUBLE) / n, 6) AS var_y,
           ROUND((CAST(n * syy - sy * sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE))
                    / CAST(n * sxx - sx * sx AS DOUBLE))
                 / 10000.0 / CAST(n AS DOUBLE) / n, 6) AS var_y_adj,
           ROUND(100.0
                 * (CAST(n * sxy - sx * sy AS DOUBLE)
                    * CAST(n * sxy - sx * sy AS DOUBLE))
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS var_reduction_pct
    FROM moms
    """,
)
def stat_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — CUPED variance reduction (Deng/Xu/Kohavi/Walker 2013,
    "Improving the Sensitivity of Online Controlled Experiments"): the
    industry-standard experiment-sensitivity technique — regress the
    experiment-period metric Y on a PRE-period covariate X (here the
    same user's value sum in the first 15 days vs after) and analyze
    Y_adj = Y − θ(X − X̄) with θ = cov(X,Y)/var(X). E[Y_adj] = E[Y]
    (unbiased) while var(Y_adj) = var(Y)·(1−ρ²) — the emitted
    var_reduction_pct = 100·ρ² is exactly the fraction of experiment
    traffic the covariate saves.

    Exactness: per-user X/Y are exact quantized integers; all five
    moments are DECIMAL(38,0) products (decimal BEFORE multiplying —
    the DeLong lesson); θ, var_y, var_y_adj = var_y − θ²·var_x, and
    100·ρ² are fixed-order IEEE expressions rounded 6. The 15-day cut
    is MIN(ts)+15d via a 1-row broadcast (both engines).

    Scale: one per-user aggregate (map-side combined) folding to one
    moment row — the canonical two-pass experiment readout."""
    e = load(spark, sf_dir, "events")
    cut = e.agg(
        (F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("cut")
    )
    q = cents()
    per_user = (
        e.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < F.col("cut"), q).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("ts") >= F.col("cut"), q).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    return cuped(per_user)


def cuped(per_user: DataFrame) -> DataFrame:
    """(n_users, theta, mean_y, var_y, var_y_adj, var_reduction_pct) —
    CUPED over a per-unit frame with exact-integer covariate ``x``
    (pre-period, 2-decimal quantized) and metric ``y`` (the library
    form the Engine facade exposes; ``stat_cuped_adjustment`` is its
    registered oracle-checked instance)."""
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    moms = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    n = F.col("n")
    cxy = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    cxx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cyy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # degenerate-margin guards (r15 registry-wide ANSI sweep — the
    # REVIEW_r14 claim "constant covariate → NULL θ on both engines" was
    # WRONG: ANSI Spark THROWS on cxy/cxx at cxx = 0; DuckDB returns
    # NULL). Constant covariate (cxx = 0) → NULL θ/var_y_adj/reduction;
    # constant metric (cyy = 0) additionally → NULL reduction.
    null_d = F.lit(None).cast("double")
    return moms.select(
        n.alias("n_users"),
        F.when(cxx == 0, null_d)
        .otherwise(F.round(cxy / cxx, 6))
        .alias("theta"),
        F.round(F.col("sy").cast("double") / 100.0 / n, 6).alias("mean_y"),
        F.round(cyy / 10000.0 / n.cast("double") / n, 6).alias("var_y"),
        F.when(cxx == 0, null_d)
        .otherwise(
            F.round(
                (cyy - (cxy * cxy) / cxx) / 10000.0 / n.cast("double") / n,
                6,
            )
        )
        .alias("var_y_adj"),
        F.when((cxx == 0) | (cyy == 0), null_d)
        .otherwise(F.round(100.0 * (cxy * cxy) / (cxx * cyy), 6))
        .alias("var_reduction_pct"),
    )


# --------------------------------------------------------------------------
# Group-sequential testing with O'Brien–Fleming boundaries (OBF 1979,
# Pocock 1977 framework) — the scheduled-looks complement of mSPRT
# --------------------------------------------------------------------------

#: Number of equally-spaced interim looks.
_GSD_K = 5

#: O'Brien–Fleming z-scale constant for K=5 looks at two-sided
#: alpha=0.05 (the standard table value); look-k boundary is
#: C·sqrt(K/k), precomputed to 6 decimals as shared literals.
_OBF_C = 2.040
_OBF_BOUNDS = tuple(
    round(_OBF_C * (_GSD_K / k) ** 0.5, 6) for k in range(1, _GSD_K + 1)
)


def _obf_bound_case() -> str:
    arms = " ".join(
        f"WHEN k = {k} THEN {b}" for k, b in enumerate(_OBF_BOUNDS, start=1)
    )
    return f"CASE {arms} END"


@register(
    "stat_group_sequential_obf",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_DUCK}),
    gtot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS ng,
               CAST(SUM(s) AS DECIMAL(38,0)) AS sg,
               CAST(SUM(ss) AS DECIMAL(38,0)) AS ssg
        FROM (SELECT COUNT(*) AS n,
                     CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                          AS DECIMAL(38,0)) AS s,
                     CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                              * CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
                          AS DECIMAL(38,0)) AS ss
              FROM events GROUP BY event_type, CAST(ts AS DATE))
    ),
    cum AS (
        SELECT event_type, day,
               ROW_NUMBER() OVER w AS r,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS nd,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cn,
               CAST(SUM(s) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DECIMAL(38,0)) AS cs
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    looks AS (
        SELECT c.event_type, g.k, c.cn, c.cs
        FROM cum c JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_GSD_K})) AS k) g
          ON c.r = (g.k * c.nd) // {_GSD_K}
    )
    SELECT l.event_type, l.k AS look, l.cn AS n_k,
           ROUND((CAST(l.cs AS DOUBLE) / 100.0 / l.cn
                  - CAST(v.sg AS DOUBLE) / 100.0 / v.ng)
                 * SQRT(CAST(l.cn AS DOUBLE))
                 / SQRT(CAST(v.ssg AS DOUBLE) / 10000.0 / v.ng
                        - (CAST(v.sg AS DOUBLE) / 100.0 / v.ng)
                          * (CAST(v.sg AS DOUBLE) / 100.0 / v.ng)),
                 6) AS z,
           CAST({_obf_bound_case().replace("k =", "l.k =")}
                AS DOUBLE) AS bound,
           ABS((CAST(l.cs AS DOUBLE) / 100.0 / l.cn
                - CAST(v.sg AS DOUBLE) / 100.0 / v.ng)
               * SQRT(CAST(l.cn AS DOUBLE))
               / SQRT(CAST(v.ssg AS DOUBLE) / 10000.0 / v.ng
                      - (CAST(v.sg AS DOUBLE) / 100.0 / v.ng)
                        * (CAST(v.sg AS DOUBLE) / 100.0 / v.ng)))
               > {_obf_bound_case().replace("k =", "l.k =")} AS crossed
    FROM looks l, gtot v
    """,
)
def stat_group_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — GROUP-SEQUENTIAL test with O'Brien–Fleming boundaries
    (O'Brien & Fleming 1979): per event type, 5 equally-spaced interim
    looks over the day grid, each testing H0 "running mean equals the
    global mean" against the OBF z-boundary C·√(K/k) (C = 2.040, the
    standard K=5 two-sided α=0.05 constant) — the SCHEDULED-looks
    complement of stat_msprt_sequential: mSPRT allows peeking every
    day at the price of a conservative mixture bound; OBF spends
    almost no alpha early (boundary 4.56 at look 1) and converges to
    the fixed-horizon 2.04 at the final look.

    Caveat (documented, the mSPRT convention): μ0 and σ² are plug-in
    pooled moments including the monitored stream, so the α guarantee
    is approximate — fix them from a holdout in production.

    Exactness: cumulative sums are exact integers over the per-type
    day grid; look k is the day at rank (k·n_days) div K (exact
    integer division); z is one fixed-order IEEE expression rounded 6;
    boundaries are precomputed 6-decimal literals shared by both
    engines; the crossing verdict compares the UNROUNDED |z|.

    Scale: one (type, day) map-side-combined aggregate; windows
    partition per type over the day grid; look grid is K rows/type."""
    e = load(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        cents().alias("q"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("decimal(38,0)").alias("ss"),
    )
    glob = daily.agg(
        F.sum("n").cast("bigint").alias("ng"),
        F.sum("s").cast("decimal(38,0)").alias("sg"),
        F.sum("ss").cast("decimal(38,0)").alias("ssg"),
    ).select(
        (F.col("sg").cast("double") / 100.0 / F.col("ng")).alias("mu0"),
        F.sqrt(
            F.col("ssg").cast("double") / 10000.0 / F.col("ng")
            - (F.col("sg").cast("double") / 100.0 / F.col("ng"))
            * (F.col("sg").cast("double") / 100.0 / F.col("ng"))
        ).alias("sigma"),
    )
    wr = Window.partitionBy("event_type").orderBy("day")
    wn = Window.partitionBy("event_type")
    wcum = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "event_type",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("nd"),
        F.sum("n").over(wcum).cast("bigint").alias("cn"),
        F.sum("s").over(wcum).cast("decimal(38,0)").alias("cs"),
    )
    looks = (
        cum.withColumn(
            "k", F.explode(F.sequence(F.lit(1), F.lit(_GSD_K)))
        )
        .filter(F.col("r") == F.expr(f"(k * nd) div {_GSD_K}"))
        .crossJoin(F.broadcast(glob))
    )
    z = (
        (
            F.col("cs").cast("double") / 100.0 / F.col("cn")
            - F.col("mu0")
        )
        * F.sqrt(F.col("cn").cast("double"))
        / F.col("sigma")
    )
    bound = F.expr(_obf_bound_case()).cast("double")
    return looks.select(
        "event_type",
        F.col("k").alias("look"),
        F.col("cn").alias("n_k"),
        F.round(z, 6).alias("z"),
        bound.alias("bound"),
        (F.abs(z) > bound).alias("crossed"),
    )


# --------------------------------------------------------------------------
# Kendall's W — coefficient of concordance (Kendall & Babington Smith
# 1939), completing the agreement suite (Cohen κ / Fleiss κ /
# Krippendorff α are categorical; W is ORDINAL: do m judges rank n
# items the same way?)
# --------------------------------------------------------------------------

#: chi-square 0.95 critical value for df = 6 (n_items − 1 weekdays).
_CHI2_95_DF6 = "12.591587243743977"


@register(
    "stat_kendall_w",
    oracle=f"""
    WITH counts AS (
        SELECT event_type AS judge,
               DAYOFWEEK(CAST(ts AS DATE)) + 1 AS item,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    judges AS (SELECT DISTINCT judge FROM counts),
    items AS (SELECT DISTINCT item FROM counts),
    dense AS (
        SELECT j.judge, i.item, COALESCE(c.cnt, 0) AS cnt
        FROM judges j CROSS JOIN items i
        LEFT JOIN counts c ON c.judge = j.judge AND c.item = i.item
    ),
    r2 AS (
        SELECT a.judge, a.item,
               CAST(2 * SUM(CASE WHEN b.cnt < a.cnt THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN b.cnt = a.cnt THEN 1 ELSE 0 END)
                    + 1 AS BIGINT) AS rr2
        FROM dense a JOIN dense b ON b.judge = a.judge
        GROUP BY 1, 2, a.cnt
    ),
    dims AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m FROM judges
    ),
    dims2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM items
    ),
    dsum AS (
        SELECT r.item, CAST(SUM(r.rr2) AS BIGINT) AS d2
        FROM r2 r GROUP BY 1
    ),
    s4 AS (
        SELECT CAST(SUM((d.d2 - m.m * (n2.n + 1))
                        * (d.d2 - m.m * (n2.n + 1))) AS DECIMAL(38,0)) AS s
        FROM dsum d, dims m, dims2 n2
    ),
    ties AS (
        SELECT CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS tt
        FROM (SELECT judge, cnt, CAST(COUNT(*) AS BIGINT) AS t
              FROM dense GROUP BY 1, 2)
    )
    SELECT n2.n AS n_items, m.m AS n_judges,
           ROUND(CAST(3 * s4.s AS DOUBLE)
                 / CAST(m.m * m.m * (n2.n * n2.n * n2.n - n2.n)
                        - m.m * t.tt AS DOUBLE), 6) AS w,
           ROUND(CAST(m.m * (n2.n - 1) AS DOUBLE)
                 * (CAST(3 * s4.s AS DOUBLE)
                    / CAST(m.m * m.m * (n2.n * n2.n * n2.n - n2.n)
                           - m.m * t.tt AS DOUBLE)), 6) AS chi2,
           COALESCE((CAST(m.m * (n2.n - 1) AS DOUBLE)
            * (CAST(3 * s4.s AS DOUBLE)
               / CAST(m.m * m.m * (n2.n * n2.n * n2.n - n2.n)
                      - m.m * t.tt AS DOUBLE))) > {_CHI2_95_DF6},
               FALSE) AS rejected
    FROM s4, dims m, dims2 n2, ties t
    """,
)
def stat_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST — KENDALL's W, the coefficient of CONCORDANCE (Kendall &
    Babington Smith 1939, tie-corrected): do the m = 5 event types
    ("judges") rank the n = 7 weekdays ("items") by volume the same
    way? The ORDINAL member of the agreement suite — Cohen/Fleiss/
    Krippendorff measure categorical label agreement; W measures
    agreement of full RANKINGS (W = 1 unanimous order, W = 0 no
    association), with Friedman's χ² = m(n−1)W deciding significance
    at df = n−1.

    Exactness: midranks clear halves by carrying 2·rank = 2·(#below) +
    (#tied) + 1 as exact integers off the judge-partitioned item-grid
    pair join (n² per judge, bounded by design); with D_i = Σ_j 2r_ij,
    the identity W = 3·Σ_i(D_i − m(n+1))² / (m²(n³−n) − m·Σ_j Σ(t³−t))
    clears every denominator (the ×12 tie convention folds into the 3)
    so numerator and denominator are exact integers through ONE IEEE
    division; the rejection compares the unrounded χ² to the shared
    df-6 literal. The item grid densifies to all (judge × item) cells
    with zero counts — W requires a complete block design.

    Scale: one (type, weekday) map-side-combined aggregate; everything
    after is (m × n)-grid algebra."""
    counts = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("judge"),
            F.dayofweek(F.col("ts").cast("date")).alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return kendall_w(counts)


def kendall_w(counts: DataFrame) -> DataFrame:
    """(n_items, n_judges, w, chi2, rejected) — tie-corrected Kendall's
    W over a (judge, item, cnt) score frame (the library form the
    Engine facade exposes; ``stat_kendall_w`` is its registered
    oracle-checked instance). Densifies to the full judge × item grid
    with zero scores — a complete block design is required."""
    # grid-sized from here on: collapse to ONE partition (the graph_scc
    # rule) so the half-dozen grid stages pay no 32-way shuffle
    # overhead — the first cut of this operator spent ~10 s of fixed
    # tiny-stage cost on 35 rows.
    counts = counts.coalesce(1).localCheckpoint(eager=True)
    judges = counts.select("judge").distinct()
    items = counts.select("item").distinct()
    dense = (
        judges.crossJoin(items)
        .join(counts, ["judge", "item"], "left")
        .select(
            "judge",
            "item",
            F.coalesce(F.col("cnt"), F.lit(0).cast("bigint")).alias("cnt"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)  # m*n rows; consumed 3x
    )
    # midranks via judge-partitioned RANGE windows (one shuffle, not a
    # grid self-join): #strictly-below and #tied by integer cnt order
    wcb = (
        Window.partitionBy("judge")
        .orderBy("cnt")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("judge").orderBy("cnt").rangeBetween(0, 0)
    r2 = dense.select(
        "judge",
        "item",
        (
            2 * F.count(F.lit(1)).over(wcb)
            + F.count(F.lit(1)).over(wt)
            + 1
        )
        .cast("bigint")
        .alias("rr2"),
    )
    m_ = judges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    n_ = items.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dsum = r2.groupBy("item").agg(
        F.sum("rr2").cast("bigint").alias("d2")
    )
    s4 = (
        dsum.crossJoin(F.broadcast(m_))
        .crossJoin(F.broadcast(n_))
        .agg(
            F.sum(
                (F.col("d2") - F.col("m") * (F.col("n") + 1))
                * (F.col("d2") - F.col("m") * (F.col("n") + 1))
            )
            .cast("decimal(38,0)")
            .alias("s"),
            F.min("m").alias("m"),
            F.min("n").alias("n"),
        )
    )
    ties = (
        dense.groupBy("judge", "cnt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * F.col("t") * F.col("t") - F.col("t")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    j = s4.crossJoin(F.broadcast(ties))
    m, n = F.col("m"), F.col("n")
    den = (m * m * (n * n * n - n) - m * F.col("tt")).cast("double")
    w = (3 * F.col("s")).cast("double") / den
    chi2 = (m * (n - 1)).cast("double") * w
    # degenerate-margin guard (r15 ANSI sweep): a single-item design
    # (n = 1 ⇒ n³ − n = 0 and no ties beyond the trivial one) zeroes
    # the W denominator — ANSI Spark threw where DuckDB returns NULL.
    degenerate = den == 0
    null_d = F.lit(None).cast("double")
    return j.select(
        n.alias("n_items"),
        m.alias("n_judges"),
        F.when(degenerate, null_d).otherwise(F.round(w, 6)).alias("w"),
        F.when(degenerate, null_d)
        .otherwise(F.round(chi2, 6))
        .alias("chi2"),
        F.when(degenerate, F.lit(False))
        .otherwise(chi2 > F.expr(_CHI2_95_DF6))
        .alias("rejected"),
    )
