"""ML feature-engineering operators: the bridge between this engine's
curation surface and model training.

Reference parity: the reconstructed reference (SURVEY.md §0) stops at SQL
analytics; this module extends the surface the way the curation/mining
families do — with the distributed primitives a training pipeline runs
directly on the lakehouse: sufficient statistics for linear models (the
"fit OLS without moving data" pattern: ship Σzzᵀ, not rows) and
leakage-safe categorical target encoding.

Float determinism follows the engine-wide fixed-point convention
(``vec_covariance_matrix``): quantize inputs to integer fixed-point,
aggregate exactly (BIGINT / DECIMAL(38)), convert to double only for the
final rounded division — so cross-engine hash checks are exact and the
answer is independent of partition order at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load, spread

#: Leading embedding dimensions used as regression features (the full
#: 64-dim Gram is the same plan; d² cells are output-bounded either way).
OLS_DIMS = 4


@register(
    "ml_normal_equations",
    oracle=f"""
    WITH z AS (
        SELECT vec_id, 0 AS pos, CAST(10000000 AS BIGINT) AS v7
        FROM embeddings
        UNION ALL
        SELECT vec_id, r.range AS pos,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 10000000) AS BIGINT) AS v7
        FROM embeddings, RANGE(1, {OLS_DIMS + 1}) r
        UNION ALL
        SELECT vec_id, {OLS_DIMS + 1} AS pos,
               CAST(label AS BIGINT) * 10000000 AS v7
        FROM embeddings
    ),
    n AS (SELECT COUNT(*) AS n FROM embeddings)
    SELECT a.pos AS i, b.pos AS j,
           (SELECT n FROM n) AS n,
           ROUND(CAST(SUM(CAST(a.v7 AS DECIMAL(19,0))
                          * CAST(b.v7 AS DECIMAL(19,0))) AS DOUBLE)
                 / 1e14, 9) AS moment
    FROM z a JOIN z b ON a.vec_id = b.vec_id AND a.pos <= b.pos
    GROUP BY a.pos, b.pos
    """,
)
def ml_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML1 — distributed sufficient statistics for ordinary least
    squares: the upper triangle of the AUGMENTED Gram matrix Σ z·zᵀ for
    z = [1, x₁..x₄, y] (intercept, leading embedding dims, label). The
    (d+1)×(d+1) block is XᵀX, the last column is Xᵀy, the corner is
    yᵀy — everything a driver (or any single node) needs to solve
    β = (XᵀX)⁻¹Xᵀy and compute R², from ONE pass over the corpus. This
    is how linear models are actually fit at 100 TB: the cluster ships
    d² numbers, the solve is a 5×5 on the driver (pytest does exactly
    that and checks the residuals are orthogonal to the features).

    Exactness: inputs quantized to 7-digit fixed point (intercept and
    label share the same ×1e7 grid), products summed as DECIMAL(38) —
    the only float op is the final /1e14 + ROUND, so both engines hash
    identically regardless of partition order.

    Scale: each row emits its flattened (d+2)² outer product (join-free —
    no explode-and-self-join, no corpus shuffle), the upper triangle is
    kept by a pos filter, and ONE map-side-combined aggregate reduces to
    (d+2)²/2 cells. At 100 TB you'd fuse the flatten into per-partition
    partial Grams; the emitted statistics are identical."""
    e = load(spark, sf_dir, "embeddings")
    n_row = e.count()
    # Join-free moment build (r15, the _gram_df precedent): each row
    # emits the flattened (d+2)² outer product of its [1 | x | y] v7
    # vector (long products max ~1e14 — no overflow; the cross-row SUM
    # is decimal, identical to the former decimal-product sum), and the
    # upper triangle is kept by a pos filter. The former shape
    # self-joined a 3-branch union on vec_id — 6 corpus scans plus a
    # corpus-sized shuffle for what one map-side-combined aggregate
    # computes.
    side = OLS_DIMS + 2
    # try_element_at keeps vals at a FIXED length (d+2) with NULL dim
    # slots for null/short embeddings, so their products null out (sum
    # skips) while the intercept/label cells still contribute — exactly
    # the old union form, where such rows emitted only pos-0 and pos-y.
    vals = F.expr(
        f"concat(array(CAST(10000000 AS BIGINT)), "
        f"transform(sequence(1, {OLS_DIMS}), "
        f"k -> CAST(FLOOR(CAST(try_element_at(embedding, k) AS DOUBLE)"
        f" * 10000000) AS BIGINT)), "
        f"array(CAST(label AS BIGINT) * 10000000))"
    )
    # Overflow guard (ADVICE r15): the per-row products are BIGINT, which
    # in non-ANSI mode would wrap SILENTLY for |v7| > ~3.03e9 (raw units:
    # |embedding element| or |label| >= ~304) where the old DECIMAL(19,0)
    # products and the DuckDB HUGEINT oracle cannot. assert_true turns the
    # data assumption into an execution-time failure; the 6-element forall
    # rides the same projection (no extra pass, negligible next to the
    # 36-element outer product).
    outer = F.expr(
        "if(assert_true(forall(vals, v -> v IS NULL"
        " OR abs(v) <= 3037000499L),"
        " 'ml_normal_equations: |v7| exceeds the BIGINT-product overflow"
        " bound (~3.03e9; raw magnitude ~304)') IS NULL,"
        " flatten(transform(vals, iv -> transform(vals, jv -> iv * jv))),"
        " NULL)"
    )
    return (
        spread(e, width_from=e)
        .select(vals.alias("vals"))
        .select(F.posexplode(outer).alias("pos", "p"))
        .filter(F.expr(f"pos div {side} <= pos % {side}"))
        .groupBy(
            F.expr(f"CAST(pos div {side} AS BIGINT)").alias("i"),
            F.expr(f"CAST(pos % {side} AS BIGINT)").alias("j"),
        )
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("s"))
        .select(
            "i",
            "j",
            F.lit(n_row).cast("bigint").alias("n"),
            F.round(F.col("s").cast("double") / 1e14, 9).alias("moment"),
        )
    )


@register(
    "ml_target_encode_loo",
    oracle="""
    WITH base AS (
        SELECT o.o_orderkey, c.c_nationkey AS nation,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
        SELECT nation, SUM(cents) AS s, COUNT(*) AS n
        FROM base GROUP BY nation
    )
    SELECT b.o_orderkey, b.nation,
           CAST(g.s - b.cents AS BIGINT) AS loo_sum_cents,
           CAST(g.n - 1 AS BIGINT) AS loo_n,
           CASE WHEN g.n > 1
                THEN CAST((CAST(g.s - b.cents AS BIGINT) * 200 + (g.n - 1))
                          // (2 * (g.n - 1)) AS BIGINT)
                END AS loo_mean_centicents
    FROM base b JOIN g ON g.nation = b.nation
    """,
)
def ml_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML2 — leave-one-out target encoding of a categorical feature
    (customer nation) against a continuous target (order price): each
    row's encode is the mean target of ITS OWN GROUP EXCLUDING ITSELF —
    the standard leakage guard (plain group means let a model read each
    row's own label through its category; LOO breaks that, Micci-Barreca
    KDD'01). Computed without any per-row window: one group aggregate
    (Σ, n), joined back, encode = (Σ − own)/(n−1); singleton groups emit
    NULL (no information without leaking).

    Exactness: prices quantized to integer cents, sums exact BIGINT, and
    the mean itself is emitted as an EXACT integer in 0.01-cent units via
    half-up integer division ((200·Σ + n)/(2n)) — no double quotient
    anywhere. (A ROUND(double, 6) here is NOT cross-engine-stable: the
    quotients carry ~14 significant digits and DuckDB's scale-multiply
    rounding diverges from Spark's BigDecimal HALF_UP at the ulp — found
    by this query's own gate and designed out rather than papered over.)
    The raw numerator/denominator are also emitted, pinning the algebra.

    Scale: one map-side-combined aggregate (|categories| rows) broadcast
    back over the fact — the same 1-aggregate-join shape as
    ``agg_share_of_total``; no shuffle of the fact beyond the customer
    dim join (broadcastable)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nation")
    )
    base = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "nation", "cents"
    )
    g = base.groupBy("nation").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    joined = base.join(F.broadcast(g), "nation").select(
        "o_orderkey",
        "nation",
        (F.col("s") - F.col("cents")).alias("loo_sum_cents"),
        (F.col("n") - 1).alias("loo_n"),
    )
    return joined.withColumn(
        "loo_mean_centicents",
        F.when(
            F.col("loo_n") > 0,
            F.expr("(loo_sum_cents * 200 + loo_n) div (2 * loo_n)"),
        ),
    )


# ---------------------------------------------------------------------------
# ML3 — multinomial Naive Bayes sufficient statistics


@register(
    "ml_naive_bayes_model",
    oracle="""
    WITH toks AS (
        SELECT lang,
               UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS tok
        FROM documents
    ),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
    cls AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS class_tokens,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS class_vocab
        FROM toks GROUP BY lang
    ),
    docs AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS class_docs FROM documents
        GROUP BY lang
    )
    SELECT t.lang, t.tok,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           c.class_tokens,
           d.class_docs,
           (SELECT v FROM vocab) AS vocab
    FROM toks t
    JOIN cls c ON c.lang = t.lang
    JOIN docs d ON d.lang = t.lang
    GROUP BY t.lang, t.tok, c.class_tokens, d.class_docs
    """,
)
def ml_naive_bayes_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML3 — multinomial Naive Bayes "training" as a pure aggregation:
    per-(class, token) counts plus the class totals and vocabulary size —
    the complete sufficient statistics for the Laplace-smoothed
    classifier P(tok|class) = (cnt+1)/(class_tokens+V) and prior
    P(class) = class_docs/N. Training an NB language model at 100 TB IS
    this query: two map-side-combined aggregates and a broadcast join of
    |classes| totals; no iteration, no solver, no Python. The model
    (|classes| × |vocab| rows) ships to wherever inference runs — a
    pytest builds the classifier from these rows and checks it
    reproduces the corpus labels far above chance.

    Exactness: every emitted statistic is an exact integer — the log-
    probability arithmetic happens AFTER the cluster, so no
    transcendental cross-engine drift is possible by construction.

    Scale: token aggregate keyed (class, token) with map-side combine;
    class totals are |classes| rows broadcast back; the global vocab
    count is the engine's standard 1-row broadcast."""
    docs = load(spark, sf_dir, "documents").select("lang", "text")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok"),
    )
    # class totals and the vocabulary size fold out of the (lang, tok)
    # count table exactly (Σcnt per lang = class tokens; every token
    # appears in some (lang, tok) row, so distinct tok is unchanged);
    # checkpointing the vocab-sized table cuts the corpus tokenize from
    # three passes to one (r15)
    per = (
        toks.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    cls = per.groupBy("lang").agg(
        F.sum("cnt").alias("class_tokens")
    )
    ndocs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("class_docs"))
    vocab = per.select("tok").distinct().agg(
        F.count(F.lit(1)).alias("vocab")
    )
    return (
        per.join(F.broadcast(cls), "lang")
        .join(F.broadcast(ndocs), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang", "tok", "cnt", "class_tokens", "class_docs", "vocab"
        )
    )


# ---------------------------------------------------------------------------
# ML4 — hashing-trick feature vectors

#: Hashed feature space size. Small on purpose: collisions are the
#: hashing trick's defining behavior and the fixture must exercise them.
HASH_BUCKETS = 64


@register(
    "ml_feature_hashing",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS ws
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               UNNEST(list_filter(
                   list_transform(ws, (x, i) ->
                       IF(i < LEN(ws), x || ' ' || ws[i + 1], NULL)),
                   s -> s IS NOT NULL)) AS tok
        FROM d
    ),
    hashed AS (
        SELECT doc_id,
               CAST(('0x' || SUBSTR(MD5(tok), 1, 8))::BIGINT % {HASH_BUCKETS}
                    AS BIGINT) AS bucket,
               CASE WHEN ('0x' || SUBSTR(MD5(tok), 9, 1))::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM sh
    )
    SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS feature
    FROM hashed GROUP BY doc_id, bucket
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML4 — the hashing trick (Weinberger et al., ICML'09): unbounded
    token features → a FIXED d-dimensional vector via bucket =
    h(token) mod d with a second hash bit choosing ±1, so collisions
    cancel in expectation instead of biasing upward. This is the
    standard way to featurize open-vocabulary text at corpus scale: no
    vocabulary build, no dictionary broadcast, memory O(d) per doc
    regardless of corpus growth. Tokens here are word bigrams (913
    shingles on this corpus vs 31 unigrams — collisions at d=64 are
    real, which is the point).

    Cross-engine determinism: the hash is md5 (both engines bit-identical
    on strings) — first 8 hex chars mod d for the bucket, next hex char's
    parity for the sign — the same md5-derived convention as
    ``vec_random_projection_jl``. All outputs exact integers.

    Scale: explode + one (doc, bucket)-keyed map-side-combined aggregate;
    output is ≤ d rows per doc by construction."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # spread: the one-split scan otherwise runs the whole explode + per-token
    # md5/conv chain in a single task (guide §2.5 input skew; same rule as
    # dedup_simhash's fingerprint pass). Downstream is an exact integer
    # aggregate — results unchanged.
    sh = spread(docs, width_from=docs).withColumn(
        "ws", F.split(F.lower(F.trim(F.col("text"))), " ")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(ws, (x, i) -> IF(i < size(ws) - 1, "
                "concat(x, ' ', ws[i + 1]), NULL)), s -> s IS NOT NULL)"
            )
        ).alias("tok"),
    )
    md5 = F.md5(F.col("tok"))
    bucket = F.pmod(
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint"),
        F.lit(HASH_BUCKETS),
    ).cast("bigint")
    sign = F.when(
        F.pmod(F.conv(F.substring(md5, 9, 1), 16, 10).cast("bigint"), F.lit(2))
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        sh.select("doc_id", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("feature"))
    )


# ---------------------------------------------------------------------------
# ML5 — exact fixed-point distributed gradient descent (3 rounds)

#: GD rounds (unrolled identically in the DuckDB oracle).
GD_ROUNDS = 3

#: Fixed-point scales: features/betas ×1e7, residuals ×1e14.
_S7 = 10_000_000
_S14 = _S7 * _S7


#: DuckDB linear predictor x·β of one row in the unrolled GD rounds.
_GD_DOT_DUCK = "SUM(CAST(b.b7 AS HUGEINT) * x.x7)"


def _gd_oracle(fit: str) -> str:
    """Unrolled DuckDB twin of :func:`_fixed_point_gd`: identical
    fixed-point arithmetic round by round (HUGEINT vs Spark
    DECIMAL(38,0)). ``fit`` is the per-row model output in 1e14 fixed
    point over the round's ``b.b7`` and ``x.x7``."""
    parts = [
        f"""
    WITH x AS (
        SELECT vec_id, 0 AS j, CAST({_S7} AS BIGINT) AS x7 FROM embeddings
        UNION ALL
        SELECT vec_id, r.range AS j,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * {_S7}) AS BIGINT) AS x7
        FROM embeddings, RANGE(1, {OLS_DIMS + 1}) r
    ),
    y AS (
        SELECT vec_id, CAST(label % 2 AS HUGEINT) * {_S14} AS y14
        FROM embeddings
    ),
    den AS (
        SELECT 4 * COUNT(*) * CAST({_S14} AS HUGEINT) AS d FROM embeddings
    ),
    b0 AS (
        SELECT j, CAST(0 AS HUGEINT) AS b7 FROM RANGE(0, {OLS_DIMS + 1}) t(j)
    )"""
    ]
    for k in range(1, GD_ROUNDS + 1):
        parts.append(
            f""",
    r{k} AS (
        SELECT x.vec_id,
               {fit} - MAX(y.y14) AS r14
        FROM x JOIN b{k - 1} b ON b.j = x.j
               JOIN y ON y.vec_id = x.vec_id
        GROUP BY x.vec_id
    ),
    g{k} AS (
        SELECT x.j, SUM(CAST(x.x7 AS HUGEINT) * r.r14) AS g21
        FROM x JOIN r{k} r ON r.vec_id = x.vec_id GROUP BY x.j
    ),
    b{k} AS (
        SELECT g.j,
               b.b7 - CASE WHEN g.g21 >= 0
                           THEN (2 * g.g21 + d.d) // (2 * d.d)
                           ELSE -((2 * (-g.g21) + d.d) // (2 * d.d))
                      END AS b7
        FROM g{k} g JOIN b{k - 1} b ON b.j = g.j CROSS JOIN den d
    )"""
        )
    parts.append(
        f"""
    SELECT j, CAST(b7 AS BIGINT) AS beta7,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n
    FROM b{GD_ROUNDS}
    """
    )
    return "".join(parts)


@register("ml_linreg_gd", oracle=_gd_oracle(_GD_DOT_DUCK))
def ml_linreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML5 — distributed batch gradient descent, EXACTLY: 3 rounds of
    β ← β − η·Xᵀ(Xβ − y)/n (η = 1/4, y = label parity, features =
    intercept + leading embedding dims) in pure fixed-point integer
    arithmetic — features ×1e7, residuals ×1e14, the update a half-up
    integer division — so the trajectory is bit-identical across
    engines and partition orders, and the DuckDB oracle replays the
    SAME three rounds unrolled as CTEs. This is the iterative-ML
    pattern (the thing ``ml_normal_equations`` one-shots, done the way
    models that DON'T close-form — logistic, matrix factorization —
    must run at 100 TB): per round, one map-side-combined aggregate
    produces d+1 gradient numbers; the β update is driver-side on d+1
    integers (the kmeans-centroid precedent); nothing else leaves the
    cluster.

    A pytest checks the fixed-point trajectory tracks float GD and that
    the exact quadratic loss strictly decreases round over round."""
    return _fixed_point_gd(spark, sf_dir, _linreg_residual)


def _linreg_residual(beta: list[int]) -> Column:
    """Least-squares residual x·β − y in 1e14 fixed point."""
    return (
        sum(
            (
                F.lit(beta[j]).cast("decimal(19,0)") * F.col(f"x{j}")
                for j in range(OLS_DIMS + 1)
            ),
            start=F.lit(0).cast("decimal(38,0)"),
        )
        - F.col("y14")
    )


def _fixed_point_gd(spark: SparkSession, sf_dir: str, residual) -> DataFrame:
    """GD_ROUNDS rounds of β ← β − Xᵀ·residual(β)/(4n) over the embeddings
    fixture in exact fixed point (features ×1e7, ``residual(beta)`` a
    1e14 fixed-point Column over x0..x{OLS_DIMS} and y14), each update a
    half-up integer division; returns (j, beta7, n)."""
    e = load(spark, sf_dir, "embeddings")
    wide = e.select(
        "vec_id",
        F.lit(_S7).cast("bigint").alias("x0"),
        *[
            F.floor(
                F.element_at("embedding", j).cast("double") * _S7
            ).alias(f"x{j}")
            for j in range(1, OLS_DIMS + 1)
        ],
        ((F.col("label") % 2).cast("decimal(38,0)") * _S14).alias("y14"),
    )
    n = e.count()
    den = 4 * n * _S14
    beta = [0] * (OLS_DIMS + 1)
    for _ in range(GD_ROUNDS):
        r14 = residual(beta)
        grads = wide.agg(
            *[
                F.sum(F.col(f"x{j}").cast("decimal(19,0)") * r14).alias(
                    f"g{j}"
                )
                for j in range(OLS_DIMS + 1)
            ]
        ).collect()[0]
        for j in range(OLS_DIMS + 1):
            g = int(grads[f"g{j}"])
            step = (
                (2 * g + den) // (2 * den)
                if g >= 0
                else -((2 * -g + den) // (2 * den))
            )
            beta[j] -= step
    return spark.createDataFrame(
        [(j, beta[j], n) for j in range(OLS_DIMS + 1)],
        "j bigint, beta7 bigint, n bigint",
    )


# ---------------------------------------------------------------------------
# Decision stump (round 11): exact information-gain split search


@register(
    "ml_decision_stump",
    oracle="""
    WITH per_val AS (
        SELECT l_discount AS v,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS pos,
               CAST(COUNT(*) AS BIGINT) AS tot
        FROM lineitem GROUP BY 1
    ),
    pre AS (
        SELECT v,
               CAST(SUM(pos) OVER w AS BIGINT) AS pl,
               CAST(SUM(tot) OVER w AS BIGINT) AS nl
        FROM per_val
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    tots AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS p, CAST(SUM(tot) AS BIGINT) AS n
        FROM per_val
    ),
    gains AS (
        SELECT pre.v AS threshold, pre.nl AS n_left, pre.pl AS pos_left,
               CAST(FLOOR((
                 (CASE WHEN t.p = 0 OR t.p = t.n THEN 0.0
                  ELSE -((CAST(t.p AS DOUBLE) / t.n)
                          * LN(CAST(t.p AS DOUBLE) / t.n)
                        + (CAST(t.n - t.p AS DOUBLE) / t.n)
                          * LN(CAST(t.n - t.p AS DOUBLE) / t.n)) END)
                 - (CAST(pre.nl AS DOUBLE) / t.n)
                   * (CASE WHEN pre.pl = 0 OR pre.pl = pre.nl THEN 0.0
                      ELSE -((CAST(pre.pl AS DOUBLE) / pre.nl)
                              * LN(CAST(pre.pl AS DOUBLE) / pre.nl)
                            + (CAST(pre.nl - pre.pl AS DOUBLE) / pre.nl)
                              * LN(CAST(pre.nl - pre.pl AS DOUBLE)
                                   / pre.nl)) END)
                 - (CAST(t.n - pre.nl AS DOUBLE) / t.n)
                   * (CASE WHEN t.p - pre.pl = 0
                                OR t.p - pre.pl = t.n - pre.nl THEN 0.0
                      ELSE -((CAST(t.p - pre.pl AS DOUBLE) / (t.n - pre.nl))
                              * LN(CAST(t.p - pre.pl AS DOUBLE)
                                   / (t.n - pre.nl))
                            + (CAST((t.n - pre.nl) - (t.p - pre.pl)
                                    AS DOUBLE) / (t.n - pre.nl))
                              * LN(CAST((t.n - pre.nl) - (t.p - pre.pl)
                                        AS DOUBLE) / (t.n - pre.nl))) END)
               ) * 1000000000000) AS BIGINT) AS gain12
        FROM pre CROSS JOIN tots t
        WHERE pre.nl < t.n
    )
    SELECT threshold, n_left, pos_left, gain12,
           (ROW_NUMBER() OVER (ORDER BY gain12 DESC, threshold) = 1)
             AS is_best
    FROM gains
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML — exact information-gain decision stump on (discount → returns):
    for every candidate threshold t over the feature's distinct values,
    the entropy reduction of splitting rows into x ≤ t vs x > t against
    the binary target (l_returnflag = 'R') — the inner loop of every
    tree learner and THE feature-scoring primitive tabular curation
    uses, computed the distributed way: per-value (pos, tot) counts,
    one prefix-sum window over the DISTINCT-VALUE grid (the
    ``eval_pr_auc_exact`` pattern — never a per-row sort), and a
    closed-form gain per candidate. Gains are binary entropies in nats
    from exact BIGINT counts through one fixed IEEE tree, quantized to
    12-decimal fixed point (gain12) so the argmax and the hash are
    deterministic; boundary candidates (p=0 or p=n sides) contribute
    zero entropy by definition, and the degenerate everything-left
    split is excluded. Output: every candidate with its gain plus an
    is_best flag (min-threshold tiebreak).

    Scale shape: rides :func:`~avro_parquet_spark_example_spark.operators.
    projection.two_class_value_cdfs` — the engine's two-phase
    (bucket-offset + bucket-partitioned window) prefix sums, so there is
    NO global unpartitioned window anywhere in the plan (the plan-audit
    hazard the naive rank-then-scan stump plans into); the argmax is a
    1-row struct-min aggregate broadcast back over the candidates.
    100 TB of rows is one scan; the candidate stage never exceeds the
    value domain. Continuous features quantize into the grid first (the
    standard histogram-split trade, same as agg_kendall_tau_b)."""
    li = load(spark, sf_dir, "lineitem")
    vals = li.select(
        F.col("l_discount").alias("v"),
        (F.col("l_returnflag") == "R").alias("is_ref"),
    )
    return decision_stump(vals)


def decision_stump(vals: DataFrame) -> DataFrame:
    """(threshold, n_left, pos_left, gain12, is_best) over a
    ``(v, is_ref)`` frame (v = the feature, is_ref = the binary target) —
    the library form the Engine facade exposes; ``ml_decision_stump`` is
    its registered oracle-checked instance (facade-parity single-source
    rule)."""
    from avro_parquet_spark_example_spark.operators.projection import (
        two_class_value_cdfs,
    )

    cdfs, n_pos, n_neg = two_class_value_cdfs(vals)
    n_tot = n_pos + n_neg

    def h(p, n):
        pd, nd = p.cast("double"), n.cast("double")
        q = pd / nd
        r = (nd - pd) / nd
        return F.when((p == 0) | (p == n), F.lit(0.0)).otherwise(
            -(q * F.log(q) + r * F.log(r))
        )

    pl = (F.col("r_ref")).cast("bigint")
    nl = (F.col("r_ref") + F.col("r_cur")).cast("bigint")
    p, n = F.lit(n_pos).cast("bigint"), F.lit(n_tot).cast("bigint")
    nld, nd = nl.cast("double"), n.cast("double")
    gain = (
        h(p, n)
        - (nld / nd) * h(pl, nl)
        - ((nd - nld) / nd) * h(p - pl, n - nl)
    )
    gains = (
        cdfs.filter(nl < n)
        .select(
            F.col("v").alias("threshold"),
            nl.alias("n_left"),
            pl.alias("pos_left"),
            F.floor(gain * F.lit(1000000000000)).cast("bigint").alias("gain12"),
        )
    )
    best = gains.agg(
        F.min(
            F.struct((-F.col("gain12")).alias("ng"), F.col("threshold").alias("t"))
        ).alias("b")
    )
    return gains.crossJoin(F.broadcast(best)).select(
        "threshold",
        "n_left",
        "pos_left",
        "gain12",
        (
            (F.col("gain12") == -F.col("b.ng"))
            & (F.col("threshold") == F.col("b.t"))
        ).alias("is_best"),
    )


# ---------------------------------------------------------------------------
# Logistic regression, hard-sigmoid link — exact fixed-point GD (3 rounds)

#: Hard-sigmoid shift in 1e14 fixed point: clamp(z/4 + 1/2, 0, 1).
_HS_TWO = 2 * _S14


def _lgd_sigma_sql(z_expr: str, intdiv: str, big: str = "DECIMAL(38,0)") -> str:
    """Hard-sigmoid in exact 1e14 fixed point, same token stream on both
    engines up to the integer-division spelling (`//` DuckDB, `div`
    Spark): LEAST(1e14, GREATEST(0, (z + 2e14) intdiv 4)). The +2e14
    shift keeps the dividend non-negative over the unclamped range, so
    trunc-vs-floor integer-division disagreement can only occur where
    the result is clamped to 0 anyway (both engines emit 0)."""
    return (
        f"LEAST(CAST({_S14} AS {big}), "
        f"GREATEST(CAST(0 AS {big}), "
        f"(({z_expr}) + {_HS_TWO}) {intdiv} 4))"
    )


@register(
    "ml_logistic_gd",
    oracle=_gd_oracle(_lgd_sigma_sql(_GD_DOT_DUCK, "//", "HUGEINT")),
)
def ml_logistic_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML — distributed LOGISTIC regression by batch gradient descent,
    EXACTLY: 3 rounds of β ← β − η·Xᵀ(σ̂(Xβ) − y)/n with the
    HARD-SIGMOID link σ̂(z) = clamp(z/4 + ½, 0, 1) (the standard
    quantized-ML surrogate — its slope at 0 matches the logistic's ¼,
    and unlike exp it is EXACTLY representable in fixed point, so the
    trajectory stays bit-identical across engines and partition orders;
    a true-sigmoid variant would hinge on cross-engine exp ulps, the
    one thing this repo's exactness discipline forbids on a per-row
    hot path). Same fixed-point frame as ml_linreg_gd: features ×1e7,
    link/residuals ×1e14, half-up integer-division updates; the DuckDB
    oracle replays the identical three rounds unrolled as CTEs.

    Scale: per round one map-side-combined aggregate emits d+1 gradient
    integers; β updates are driver-side on d+1 ints (kmeans-centroid
    precedent). The classifier this trains is the engine's iterative-ML
    exemplar for models with no closed form."""
    return _fixed_point_gd(spark, sf_dir, _logistic_residual)


def _logistic_residual(beta: list[int]) -> Column:
    """Hard-sigmoid residual σ̂(x·β) − y in 1e14 fixed point."""
    z = " + ".join(
        f"CAST({beta[j]} AS DECIMAL(19,0)) * x{j}" for j in range(OLS_DIMS + 1)
    )
    return F.expr(f"{_lgd_sigma_sql(z, 'div')} - y14")
