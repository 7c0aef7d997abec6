"""Survival analysis (round 14): Kaplan–Meier estimator and the
log-rank test over user lifetimes derived from the events stream — the
churn/retention workload class (complementing ts_cohort_retention's
calendar triangle with proper censoring semantics).

Subject = user. Birth = the user's first event. A user whose last
event falls ≥ {_CHURN_GAP_DAYS} days before the corpus's last event has
CHURNED (death at their last-event day); later-active users are
CENSORED at the corpus end — the right-censoring any bounded
observation window imposes, which naive "average lifetime" metrics get
wrong and Kaplan–Meier exists to fix. Cohorts: deterministic id-parity
assignment (user_id % 2 → 'treatment'/'control') — the split an A/B
test actually uses, and one that exists at every SF (a weekend-first
split is DEGENERATE on this corpus: it starts on a Monday and every
user's first event lands on day 1, verified at sf0.01).

Exactness discipline (the g_test rule): risk/death/censor counts are
exact integers off a per-(group, duration) histogram with descending
cumulative windows; each KM log-term ln(1 − d/n) and each log-rank
expectation/variance term is a fixed-order all-double IEEE expression
rounded to the 9-grid and DECIMAL-summed, so totals are
order-independent and cross-engine identical; χ²/z rejections compare
unrounded doubles to shared literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load

#: A user is churned when their last event is at least this many days
#: before the corpus's last event day (else censored-at-end). 1 day:
#: the fixture's per-user event intensity (~2.2/day) makes a ≥2-day
#: silence so rare the log-rank degenerates to a single death at
#: sf0.01 (measured: 1 vs 17 churners) — at 1 day both cohorts carry
#: deaths at every SF.
_CHURN_GAP_DAYS = 1

_CHI2_95_DF1 = "3.841458820694124"

#: Shared DuckDB CTE: per-user (cohort, duration-days, event flag).
#: Spark twin in :func:`_user_durations`.
_DUR_DUCK = f"""
    bounds AS (
        SELECT CAST(MAX(ts) AS DATE) AS dmax FROM events
    ),
    users AS (
        SELECT e.user_id,
               CAST(MIN(e.ts) AS DATE) AS d0,
               CAST(MAX(e.ts) AS DATE) AS d1
        FROM events e GROUP BY 1
    ),
    subj AS (
        SELECT u.user_id,
               CASE WHEN u.user_id % 2 = 0 THEN 'treatment'
                    ELSE 'control' END AS grp,
               CASE WHEN DATEDIFF('day', u.d1, b.dmax)
                         >= {_CHURN_GAP_DAYS}
                    THEN DATEDIFF('day', u.d0, u.d1)
                    ELSE DATEDIFF('day', u.d0, b.dmax) END AS t,
               CASE WHEN DATEDIFF('day', u.d1, b.dmax)
                         >= {_CHURN_GAP_DAYS}
                    THEN 1 ELSE 0 END AS ev
        FROM users u, bounds b
    )
"""


def _user_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, grp, t, ev) — Spark twin of the ``subj`` CTE."""
    e = load(spark, sf_dir, "events")
    dmax = e.agg(F.max("ts").cast("date").alias("dmax"))
    users = e.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("d0"),
        F.max("ts").cast("date").alias("d1"),
    )
    churned = (
        F.datediff(F.col("dmax"), F.col("d1")) >= _CHURN_GAP_DAYS
    )
    return (
        users.crossJoin(F.broadcast(dmax))
        .select(
            "user_id",
            F.when(F.col("user_id") % 2 == 0, "treatment")
            .otherwise("control")
            .alias("grp"),
            F.when(churned, F.datediff(F.col("d1"), F.col("d0")))
            .otherwise(F.datediff(F.col("dmax"), F.col("d0")))
            .cast("bigint")
            .alias("t"),
            F.when(churned, 1).otherwise(0).alias("ev"),
        )
    )


def _km_grid(subj: DataFrame) -> DataFrame:
    """(grp, t, d, c, n_risk) — per (group, duration-day): deaths,
    censorings, and the at-risk count (subjects with duration ≥ t),
    via a per-group descending cumulative window over the bounded
    duration histogram."""
    hist = subj.groupBy("grp", "t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    wge = (
        Window.partitionBy("grp")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return hist.withColumn(
        "n_risk", F.sum(F.col("d") + F.col("c")).over(wge).cast("bigint")
    )


def _upto_t() -> Window:
    """Per-group running frame over durations 1..t."""
    return (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _per_t(risk: DataFrame, *estimates: Column) -> DataFrame:
    """(grp, t, n_risk, n_event, n_censor, *estimates) — one row per
    (group, duration) of the :func:`_km_grid` risk table."""
    return risk.select(
        "grp",
        "t",
        "n_risk",
        F.col("d").alias("n_event"),
        F.col("c").alias("n_censor"),
        *estimates,
    )


#: DuckDB twin of :func:`_km_grid` (``risk``, over its histogram
#: ``hist``) and the Kaplan–Meier running log-survival ``logs`` — shared
#: by the Kaplan–Meier, Nelson–Aalen and RMST oracles.
_RISK_DUCK = f"""{_DUR_DUCK},
    hist AS (
        SELECT grp, t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM subj GROUP BY 1, 2
    ),
    risk AS (
        SELECT grp, t, d, c,
               CAST(SUM(d + c) OVER (PARTITION BY grp ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_risk
        FROM hist
    )"""
_KM_LOGS_DUCK = """CAST(SUM(CASE
                    WHEN d >= n_risk THEN CAST(-1000000000 AS DECIMAL(28,9))
                    WHEN d = 0 THEN CAST(0 AS DECIMAL(28,9))
                    ELSE CAST(ROUND(LN(1.0 - CAST(d AS DOUBLE) / n_risk),
                                    9) AS DECIMAL(28,9)) END)
                    OVER (PARTITION BY grp ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,9)) AS logs"""


@register(
    "surv_kaplan_meier",
    oracle=f"""
    WITH {_RISK_DUCK},
    km AS (
        SELECT grp, t, d, c, n_risk,
               {_KM_LOGS_DUCK}
        FROM risk
    )
    SELECT grp, t, n_risk, d AS n_event, c AS n_censor,
           ROUND(EXP(CAST(logs AS DOUBLE)), 6) AS survival
    FROM km
    """,
)
def surv_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SV — KAPLAN–MEIER survival estimator (Kaplan & Meier 1958) over
    user lifetimes, treatment vs control (id-parity) cohorts: Ŝ(t) =
    Π_{{t_i ≤ t}} (1 − d_i/n_i) with right-censoring at the corpus end
    — "what fraction of users survive past day t", the retention curve
    computed CORRECTLY under a bounded observation window (a naive
    mean-lifetime over the same data is biased low by every
    still-active user).

    Exactness: d/c/n_risk are exact integers from one histogram + a
    per-group descending cumulative window; the product is carried as
    a cumulative DECIMAL(38,9) sum of 9-grid-rounded ln(1 − d/n) terms
    (order-fixed within the window frame, identical IEEE expression
    both engines — the g_test discipline), exponentiated once and
    rounded 6; a zero-death day contributes an exact 0 term via the
    same CASE on both engines, and a d == n_risk day (survival hits
    exactly 0) contributes a -1e9 sentinel term so exp() underflows to
    an exact 0.0 on both engines instead of ln(0) = -inf poisoning the
    decimal cast (NULL on Spark, CAST error on DuckDB).

    Scale: one corpus scan to per-user (first, last) — map-side
    combined — then duration-grid algebra (≤ observation-window days
    per group). The KM grid is day-bounded by construction; at 100 TB
    the user aggregate dominates and shuffles once on user_id."""
    return kaplan_meier(_user_durations(spark, sf_dir))


def kaplan_meier(subj: DataFrame) -> DataFrame:
    """(grp, t, n_risk, n_event, n_censor, survival) — Kaplan–Meier
    estimator. Frame-level core of :func:`surv_kaplan_meier` (the library
    form
    the Engine facade exposes): ``subj`` has columns (user_id, grp
    group key, t integer duration, ev 0/1 event-observed flag)."""
    risk = _km_grid(subj)
    # d == n_risk (everyone still at risk dies at t — e.g. any fully
    # observed cohort at its last death time) makes ln(1 - d/n) = -inf,
    # which Spark's decimal cast turns into NULL (window SUM then skips
    # it — survival silently stays at its prior value) and DuckDB turns
    # into a CAST error. Guard with a -1e9 sentinel term: the cumulative
    # sum stays <= -1e9 from that t onward and exp() underflows to an
    # exact IEEE 0.0 on BOTH engines, i.e. survival = 0 for t and all
    # later t in the group, as the estimator requires.
    term = F.when(
        F.col("d") >= F.col("n_risk"),
        F.lit(-1000000000).cast("decimal(28,9)"),
    ).when(
        F.col("d") == 0, F.lit(0).cast("decimal(28,9)")
    ).otherwise(
        F.round(
            F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")), 9
        ).cast("decimal(28,9)")
    )
    return _per_t(
        risk,
        F.round(
            F.exp(
                F.sum(term).over(_upto_t()).cast("decimal(38,9)").cast("double")
            ),
            6,
        ).alias("survival"),
    )


@register(
    "surv_logrank_test",
    oracle=f"""
    WITH {_DUR_DUCK},
    hist AS (
        SELECT grp, t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM subj GROUP BY 1, 2
    ),
    dense AS (
        SELECT g.grp, tt.t, COALESCE(h.d, 0) AS d,
               COALESCE(h.d + h.c, 0) AS mass
        FROM (SELECT DISTINCT t FROM hist) tt
        CROSS JOIN (SELECT DISTINCT grp FROM hist) g
        LEFT JOIN hist h ON h.grp = g.grp AND h.t = tt.t
    ),
    risk AS (
        SELECT grp, t, d,
               CAST(SUM(mass) OVER (PARTITION BY grp ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_risk
        FROM dense
    ),
    tgrid AS (
        SELECT t,
               CAST(SUM(CASE WHEN grp = 'treatment' THEN d END) AS BIGINT)
                   AS d1,
               CAST(SUM(CASE WHEN grp = 'control' THEN d END) AS BIGINT)
                   AS d2,
               CAST(SUM(CASE WHEN grp = 'treatment' THEN n_risk END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN grp = 'control' THEN n_risk END)
                    AS BIGINT) AS n2
        FROM risk GROUP BY 1
    ),
    terms AS (
        SELECT CAST(SUM(d1) AS BIGINT) AS o1,
               CAST(SUM(CASE WHEN d1 + d2 = 0
                        THEN CAST(0 AS DECIMAL(28,9))
                        ELSE CAST(ROUND(
                          CAST(d1 + d2 AS DOUBLE)
                          * n1 / (n1 + n2), 9) AS DECIMAL(28,9)) END)
                    AS DECIMAL(38,9)) AS e1,
               CAST(SUM(CASE WHEN d1 + d2 = 0 OR n1 + n2 < 2
                        THEN CAST(0 AS DECIMAL(28,9))
                        ELSE CAST(ROUND(
                          CAST(d1 + d2 AS DOUBLE)
                          * n1 * n2
                          * (n1 + n2 - d1 - d2)
                          / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                             * (n1 + n2 - 1)), 9) AS DECIMAL(28,9)) END)
                    AS DECIMAL(38,9)) AS v
        FROM tgrid
    )
    SELECT o1, ROUND(CAST(e1 AS DOUBLE), 6) AS e1,
           ROUND(CAST(v AS DOUBLE), 6) AS var_o1,
           CASE WHEN CAST(v AS DOUBLE) = 0 THEN NULL
                ELSE ROUND((o1 - CAST(e1 AS DOUBLE))
                           * (o1 - CAST(e1 AS DOUBLE))
                           / CAST(v AS DOUBLE), 6) END AS chi2,
           CASE WHEN CAST(v AS DOUBLE) = 0 THEN FALSE
                ELSE ((o1 - CAST(e1 AS DOUBLE))
                      * (o1 - CAST(e1 AS DOUBLE))
                      / CAST(v AS DOUBLE)) > {_CHI2_95_DF1} END AS rejected
    FROM terms
    """,
)
def surv_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SV — LOG-RANK test (Mantel 1966) treatment vs control (id-parity)
    user survival: H0 "the two cohorts share one hazard function". At
    each distinct death day the observed treatment-cohort deaths are
    compared to the hypergeometric expectation d·n₁/n given the risk
    sets; χ² = (O₁−E₁)²/V at df 1 — THE standard two-cohort retention
    comparison (a t-test on observed lifetimes is censoring-biased;
    the log-rank uses every subject exactly as long as it is at risk).

    Exactness: per-day d/n counts are exact integers off the risk grid
    DENSIFIED to (pooled death times × cohorts) — each cohort's at-risk
    count is defined at every pooled time, so no death day can drop out
    when one cohort lacks a mass point there (a defect the independent
    per-observation Python twin caught in the first cut); each E/V term
    is one fixed-order IEEE expression rounded to the 9-grid and
    DECIMAL-summed; the rejection compares the unrounded χ² to the
    shared df-1 literal.

    Scale: identical to surv_kaplan_meier — one user aggregate, then
    day-grid algebra."""
    subj = _user_durations(spark, sf_dir)
    hist = subj.groupBy("grp", "t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    hist = hist.localCheckpoint(eager=True)  # day-grid; times + dense
    # densify to (pooled death-time grid x cohorts): a cohort's at-risk
    # count must be defined at EVERY pooled time, not only at its own
    # mass points — without this, a death day where one cohort has no
    # histogram row silently drops out of E and V (caught by the
    # independent per-observation Python twin; the pre-fix grid pivot
    # produced NULL n on exactly those days)
    times = hist.select("t").distinct()
    grps = hist.select("grp").distinct()
    dense = (
        times.crossJoin(F.broadcast(grps))
        .join(hist, ["grp", "t"], "left")
        .select(
            "grp",
            "t",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce(F.col("d") + F.col("c"), F.lit(0)).alias("mass"),
        )
    )
    wge = (
        Window.partitionBy("grp")
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = dense.withColumn(
        "n_risk", F.sum("mass").over(wge).cast("bigint")
    )
    tgrid = risk.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == "treatment", F.col("d")))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == "control", F.col("d")))
        .cast("bigint")
        .alias("d2"),
        F.sum(F.when(F.col("grp") == "treatment", F.col("n_risk")))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == "control", F.col("n_risk")))
        .cast("bigint")
        .alias("n2"),
    )
    d1, d2 = F.col("d1"), F.col("d2")
    dd = d1 + d2
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    zero = F.lit(0).cast("decimal(28,9)")
    e_term = F.when(dd == 0, zero).otherwise(
        F.round(dd.cast("double") * n1 / nn, 9).cast("decimal(28,9)")
    )
    v_term = F.when((dd == 0) | (nn < 2), zero).otherwise(
        F.round(
            dd.cast("double")
            * n1
            * n2
            * (nn - dd)
            / (nn.cast("double") * nn * (nn - 1)),
            9,
        ).cast("decimal(28,9)")
    )
    terms = tgrid.agg(
        F.sum(d1).cast("bigint").alias("o1"),
        F.sum(e_term).cast("decimal(38,9)").alias("e1"),
        F.sum(v_term).cast("decimal(38,9)").alias("v"),
    )
    chi2 = (
        (F.col("o1") - F.col("e1").cast("double"))
        * (F.col("o1") - F.col("e1").cast("double"))
        / F.col("v").cast("double")
    )
    vzero = F.col("v").cast("double") == 0
    return terms.select(
        "o1",
        F.round(F.col("e1").cast("double"), 6).alias("e1"),
        F.round(F.col("v").cast("double"), 6).alias("var_o1"),
        F.when(vzero, F.lit(None).cast("double"))
        .otherwise(F.round(chi2, 6))
        .alias("chi2"),
        F.when(vzero, F.lit(False))
        .otherwise(chi2 > F.expr(_CHI2_95_DF1))
        .alias("rejected"),
    )


# --------------------------------------------------------------------------
# Nelson–Aalen cumulative hazard (round 15)
# --------------------------------------------------------------------------


@register(
    "surv_nelson_aalen",
    oracle=f"""
    WITH {_RISK_DUCK},
    na AS (
        SELECT grp, t, d, c, n_risk,
               CAST(SUM(CASE WHEN d = 0 THEN CAST(0 AS DECIMAL(28,9))
                    ELSE CAST(ROUND(CAST(d AS DOUBLE) / n_risk, 9)
                              AS DECIMAL(28,9)) END)
                    OVER (PARTITION BY grp ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,9)) AS hcum,
               CAST(SUM(CASE WHEN d = 0 THEN CAST(0 AS DECIMAL(28,9))
                    ELSE CAST(ROUND(CAST(d AS DOUBLE)
                                    / (CAST(n_risk AS DOUBLE) * n_risk), 9)
                              AS DECIMAL(28,9)) END)
                    OVER (PARTITION BY grp ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,9)) AS vcum
        FROM risk
    )
    SELECT grp, t, n_risk, d AS n_event, c AS n_censor,
           ROUND(CAST(hcum AS DOUBLE), 6) AS cum_hazard,
           ROUND(CAST(vcum AS DOUBLE), 6) AS var_hazard
    FROM na
    """,
)
def surv_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SV — NELSON–AALEN cumulative hazard estimator (Nelson 1972,
    Aalen 1978) over the same treatment/control user-lifetime frame as
    :func:`surv_kaplan_meier`: Ĥ(t) = Σ_{{t_i ≤ t}} d_i/n_i with the
    Poisson-type variance estimate Σ d_i/n_i² — the hazard-scale twin
    of the KM survival curve (Ĥ is what hazard-ratio eyeballing,
    piecewise-exponential fits, and the Breslow estimator consume;
    exp(−Ĥ) is the Fleming–Harrington survival alternative). Unlike
    KM's product, the SUM needs no d = n_risk guard: the last-death
    cell contributes the finite term d/n = 1.

    Exactness: the same exact-integer (d, c, n_risk) grid as KM; each
    hazard and variance increment is ONE IEEE division rounded to the
    9-grid and DECIMAL-summed per group (order-fixed window frames —
    the g_test discipline); zero-death days contribute exact-0 terms
    via the same CASE on both engines. n_risk ≥ 1 on every grid row by
    construction, so no division can hit zero.

    Scale: identical to surv_kaplan_meier — one user_id-shuffled
    aggregate, then day-grid algebra."""
    return nelson_aalen(_user_durations(spark, sf_dir))


def nelson_aalen(subj: DataFrame) -> DataFrame:
    """(grp, t, n_risk, n_event, n_censor, cum_hazard, var_hazard) —
    Nelson–Aalen cumulative hazard. Frame-level core of
    :func:`surv_nelson_aalen` (the library form
    the Engine facade exposes): ``subj`` has columns (user_id, grp
    group key, t integer duration, ev 0/1 event-observed flag)."""
    risk = _km_grid(subj)
    zero = F.lit(0).cast("decimal(28,9)")
    h_term = F.when(F.col("d") == 0, zero).otherwise(
        F.round(F.col("d").cast("double") / F.col("n_risk"), 9).cast(
            "decimal(28,9)"
        )
    )
    v_term = F.when(F.col("d") == 0, zero).otherwise(
        F.round(
            F.col("d").cast("double")
            / (F.col("n_risk").cast("double") * F.col("n_risk")),
            9,
        ).cast("decimal(28,9)")
    )
    wcum = _upto_t()
    return _per_t(
        risk,
        F.round(
            F.sum(h_term).over(wcum).cast("decimal(38,9)").cast("double"), 6
        ).alias("cum_hazard"),
        F.round(
            F.sum(v_term).over(wcum).cast("decimal(38,9)").cast("double"), 6
        ).alias("var_hazard"),
    )


# --------------------------------------------------------------------------
# Restricted mean survival time (round 15)
# --------------------------------------------------------------------------

#: RMST truncation horizon in days: the restricted window every bounded
#: observation period imposes anyway; 30 days is the standard monthly
#: retention reporting window and is inside the fixture's duration range
#: at every SF.
_RMST_TAU = 30


@register(
    "surv_rmst",
    oracle=f"""
    WITH {_RISK_DUCK},
    km AS (
        SELECT grp, t,
               {_KM_LOGS_DUCK}
        FROM risk
    ),
    spans AS (
        SELECT grp, t, ROUND(EXP(CAST(logs AS DOUBLE)), 6) AS s,
               LEAD(t) OVER (PARTITION BY grp ORDER BY t) AS nt
        FROM km
    ),
    terms AS (
        SELECT grp,
               CAST(SUM(CASE WHEN t >= {_RMST_TAU}
                             THEN CAST(0 AS DECIMAL(28,9))
                        ELSE CAST(ROUND(s * (LEAST(
                                 COALESCE(nt, {_RMST_TAU}), {_RMST_TAU})
                                 - t), 9) AS DECIMAL(28,9)) END)
                    AS DECIMAL(38,9)) AS area,
               CAST(MIN(t) AS BIGINT) AS t0
        FROM spans GROUP BY 1
    )
    SELECT grp, {_RMST_TAU} AS tau,
           ROUND(CAST(area AS DOUBLE)
                 + CAST(LEAST(t0, {_RMST_TAU}) AS DOUBLE), 6) AS rmst
    FROM terms
    """,
)
def surv_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SV — RESTRICTED MEAN SURVIVAL TIME (Royston & Parmar 2013; the
    τ-truncated AUC of the KM curve, Irwin 1949): E[min(T, τ)] =
    ∫₀^τ Ŝ(t)dt at τ = {_RMST_TAU} days per cohort — "expected active
    days in the first month", THE modern A/B retention effect measure
    (hazard-ratio-free, valid under non-proportional hazards, defined
    even with heavy censoring; the difference of the two cohorts' RMST
    is the treatment effect in day units).

    Exactness: the KM step curve (same sentinel-guarded DECIMAL log-sum
    grid as surv_kaplan_meier) integrated exactly over its own steps:
    per grid day, term = Ŝ(t)·(min(next_t, τ) − t) — one IEEE multiply
    of the rounded-6 survival by an exact integer span, rounded to the
    9-grid and DECIMAL-summed; the head segment (S = 1 on [0, t₀))
    contributes exactly min(t₀, τ); S is constant beyond the last grid
    day (the KM convention). τ is a shared literal on both engines.

    Scale: identical to surv_kaplan_meier — one user aggregate, then
    day-grid algebra (LEAD over the bounded per-group day grid)."""
    return rmst(_user_durations(spark, sf_dir))


def rmst(subj: DataFrame, tau: int = _RMST_TAU) -> DataFrame:
    """(grp, tau, rmst) — restricted mean survival time at horizon
    ``tau``. Frame-level core of :func:`surv_rmst` (the library form the
    Engine facade exposes): ``subj`` as in :func:`kaplan_meier`;
    ``tau`` = truncation horizon in duration units."""
    surv = kaplan_meier(subj).select("grp", "t", F.col("survival").alias("s"))
    wlead = Window.partitionBy("grp").orderBy("t")
    spans = surv.select(
        "grp",
        "t",
        "s",
        F.lead("t").over(wlead).alias("nt"),
    )
    term = F.when(
        F.col("t") >= tau, F.lit(0).cast("decimal(28,9)")
    ).otherwise(
        F.round(
            F.col("s")
            * (
                F.least(
                    F.coalesce(F.col("nt"), F.lit(tau).cast("bigint")),
                    F.lit(tau).cast("bigint"),
                )
                - F.col("t")
            ),
            9,
        ).cast("decimal(28,9)")
    )
    terms = spans.groupBy("grp").agg(
        F.sum(term).cast("decimal(38,9)").alias("area"),
        F.min("t").cast("bigint").alias("t0"),
    )
    return terms.select(
        "grp",
        F.lit(tau).alias("tau"),
        F.round(
            F.col("area").cast("double")
            + F.least(F.col("t0"), F.lit(tau).cast("bigint")).cast(
                "double"
            ),
            6,
        ).alias("rmst"),
    )
