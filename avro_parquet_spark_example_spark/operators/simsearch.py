"""Group H (similarity search) — ANN over the embeddings table
(SURVEY.md §2 H3/H4).

Five tiers, same interface (query vector → top-k neighbors):

  * brute-force — exact cosine top-k via JVM higher-order fold + Spark's
    TakeOrderedAndProject (per-partition top-k heaps, driver merges k
    rows — never a global sort). The correctness baseline and, at 100 TB,
    still the right plan for one-off queries: a single pruned scan.
  * IVF — inverted-file: a coarse quantizer (the given ``label`` cluster
    id) partitions vectors; search touches only the query's cell → scan
    prunes to ~1/n_cells of the data.
  * IVF-kmeans — same, with a TRAINED coarse quantizer (the engine's
    k-means) and nprobe>1 cells: the production IVF layout.
  * LSH — random-hyperplane signatures bucket vectors; candidates come from
    the query's bucket only. Bucketing is map-side; the probe is a
    broadcast-able filter. recall@k vs brute force asserted in tests.
  * PQ — 4-bit × 8-subspace codes (32× memory), asymmetric-distance lookup
    + exact re-rank: the memory-bound tier.

Unit-norm embeddings (FIXTURES.md) ⇒ dot product == cosine similarity.
"""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load, spread

#: The checked queries search for neighbors of this vector (arbitrary, fixed).
QUERY_VEC_ID = 0


def dot_product(
    vec_a: Column | str, vec_b: Column | str, dim: int | None = None
) -> Column:
    """Double-precision ordered fold — deterministic across engines.

    The aggregate/zip_with fold is the RUNTIME WINNER, not just the
    deterministic form: an r15 A/B at 2M rows measured the fold at
    0.95 s vs 4.3 s for a flat 64-term per-index codegen chain (Spark
    4.1 evaluates higher-order functions as a tight loop over the
    ArrayData; the flat chain pays per-term child-eval/null-check
    overhead and, at l·k·dim widths, Janino compile failures). Operands
    may be SQL STRINGS — a column name or any SQL array expression such
    as :func:`sql_double_array` — parsed in ONE JVM round trip; the
    equivalent Column-object literal build costs ~2 py4j calls per
    element (the ``minhash_signatures_df`` lesson). ``dim`` restricts
    the fold to the leading ``dim`` elements via slice (the matryoshka
    prefix convention). The IEEE sequence is 0.0 + a1·b1 + … in index
    order in every variant, so every double — and every oracle hash —
    is bit-identical across the operand forms (oracle-verified, r15)."""
    a = F.expr(vec_a) if isinstance(vec_a, str) else vec_a
    b = F.expr(vec_b) if isinstance(vec_b, str) else vec_b
    if dim is not None:
        a, b = F.slice(a, 1, dim), F.slice(b, 1, dim)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_double_array(vals) -> str:
    """SQL double-array literal string (ONE JVM parse instead of ~2 py4j
    round trips per element for the F.array(*[F.lit(x) ...]) form; repr()
    round-trips every IEEE double exactly, so values are identical)."""
    return "array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")"


def _query_vector(e: DataFrame) -> Column:
    """The query embedding as a broadcast scalar subquery-style column:
    a 1-row DF cross-joined in (broadcast: no shuffle, no collect)."""
    return F.broadcast(
        e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("qvec")
        )
    )


# DuckDB twin of dot_product: fold float32→double products in index order
# via a correlated sum over generate_series — bit-identical to the Spark fold.
_DOT_SQL = """(SELECT SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(q.qvec[g.i] AS DOUBLE))
               FROM GENERATE_SERIES(1, 64) g(i))"""


@register(
    "simsearch_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label, ROUND({_DOT_SQL}, 5) AS score
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY {_DOT_SQL} DESC, e.vec_id
    LIMIT 10
    """,
)
def simsearch_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 — exact cosine top-10 for the query vector (self excluded)."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(_query_vector(e))
        .withColumn("score", dot_product("embedding", "qvec"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("score", 5).alias("score"))
    )


@register(
    "simsearch_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec, label AS qlabel
               FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, ROUND({_DOT_SQL}, 5) AS score
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID} AND e.label = q.qlabel
    ORDER BY {_DOT_SQL} DESC, e.vec_id
    LIMIT 5
    """,
)
def simsearch_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4a — IVF: search only the query's coarse-quantizer cell (label).
    The cell id is a partition-prunable key: with the table written
    ``partitionBy(label)``, 100 TB shrinks to one cell's worth of scan."""
    e = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("qvec"), F.col("label").alias("qlabel")
        )
    )
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .filter(F.col("label") == F.col("qlabel"))
        .withColumn("score", dot_product("embedding", "qvec"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", F.round("score", 5).alias("score"))
    )


# ---------------------------------------------------------------------------
# H4b — random-hyperplane LSH, multi-table

#: 16 independent hash tables × 4 sign bits: a neighbor is a candidate if it
#: collides with the query in ANY table. For moderately-similar neighbors
#: (cos ≈ 0.4 ⇒ per-bit agreement ≈ 0.63) per-table collision ≈ 0.63⁴ ≈ 0.16;
#: query-side single-bit multi-probe (see ``multiprobe_keys``) lifts that to
#: ≈ 0.53 per table, union recall ≈ 1.0 across the 16 tables (measured 1.0
#: @10 on the driver corpus at sf0.01 and sf0.1) while still scoring only
#: ~L·(K+1)·n/2^K of the corpus — the recall/cost dial is (L, K, probes);
#: raise K as corpus density grows.
L_TABLES = 16
K_BITS = 4


def hyperplanes(
    dim: int = 64, n_planes: int = L_TABLES * K_BITS, seed: int = 42
) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed → the bucketing
    is reproducible across runs and engines)."""
    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def scaled_lsh_bits(
    corpus_rows: int, ref_rows: int, ref_bits: int = K_BITS
) -> int:
    """The DENSITY dial for the LSH index (r15, the ×100 ANN program's
    finding): per-table sign bits K must grow with the corpus so expected
    bucket occupancy n/2^K — and with it the scored-candidate fraction
    ≈ L·(K+1)·n/2^K — stays constant. At the fixture's K=4 a ×100 corpus
    is scored at 99.4% (the ×100 ANN script, in ``tools/`` up to commit
    ced5246, measured: 16 buckets per
    table cannot prune 200k vectors — the index degenerates to brute
    force with extra steps); K = 4 + log₂(100) ≈ 11 restores ~constant
    per-bucket occupancy. The price is per-table collision p^K for
    distant neighbors — recall for a given cos floor is bought back with
    more tables (L) or more probes, the (L, K, probes) tradeoff the
    operator docstring names; for near-duplicate-grade neighbors
    (cos ≥ 0.9, per-bit agreement ≥ 0.9) recall stays ≈1 at the scaled K
    (measured 1.0 @10 at ×100)."""
    if corpus_rows <= 0 or ref_rows <= 0:
        raise ValueError("row counts must be positive")
    return ref_bits + max(0, round(math.log2(corpus_rows / ref_rows)))


def lsh_table_keys(
    vec: Column | str,
    planes: list[list[float]],
    l: int = L_TABLES,
    k: int = K_BITS,
) -> Column:
    """Array of L bucket keys, one per hash table: key_t encodes the table
    id plus K sign bits of the vector against that table's hyperplanes.
    Plane literals ride in the plan; computation is per-row folds — map-side
    only, no shuffle to index the corpus. ``l``/``k`` default to the
    fixture-scale constants; at-scale callers pass ``k`` from
    :func:`scaled_lsh_bits` (planes must then hold l·k rows:
    ``hyperplanes(n_planes=l * k)``). A STRING operand (column name)
    builds the SAME aggregate/zip_with tree as ONE JVM-parsed SQL string
    — identical values and runtime shape, but a single py4j round trip
    instead of the ~4k ``F.lit`` calls the Column build costs (~3 s of
    driver time per call site, the dominant build cost at r15). A flat
    per-term codegen chain was tried and REJECTED: l·k·dim ≈ 4096 terms
    in one projection exceeds Janino's method limit — three failed
    compile attempts per run, then interpreted fallback anyway
    (measured 2.1 s → 45 s exec at sf0.1)."""
    if isinstance(vec, str):
        key_sqls = []
        for t in range(l):
            parts = [f"CAST({t << 32} AS BIGINT)"]
            for j in range(k):
                plane_lit = sql_double_array(planes[t * k + j])
                proj = (
                    f"aggregate(zip_with({vec}, {plane_lit},"
                    " (x, p) -> CAST(x AS DOUBLE) * p),"
                    " 0.0D, (acc, v) -> acc + v)"
                )
                parts.append(
                    f"(CASE WHEN ({proj}) >= 0 THEN CAST({1 << j} AS BIGINT)"
                    " ELSE CAST(0 AS BIGINT) END)"
                )
            key_sqls.append(" + ".join(parts))
        return F.expr("array(" + ", ".join(key_sqls) + ")")
    # Column operand: the original Column-object form (same tree — kept
    # for expression callers like tests and scale tools)
    keys = []
    for t in range(l):
        key = F.lit(t << 32).cast("long")
        for j in range(k):
            plane_col = F.array(*[F.lit(v) for v in planes[t * k + j]])
            proj = F.aggregate(
                F.zip_with(vec, plane_col, lambda x, p: x.cast("double") * p),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            key = key + F.when(proj >= 0, F.lit(1 << j).cast("long")).otherwise(0)
        keys.append(key)
    return F.array(*keys)


def multiprobe_keys(keys: Column, k_bits: int = K_BITS) -> Column:
    """Multi-probe expansion (Lv et al., VLDB'07): for each table key, also
    probe the k single-bit-flip perturbations (key XOR 1<<j). Applied to
    the QUERY side only, so the corpus index is untouched and the probe set
    stays L·(k+1) keys — a few dozen longs in one broadcast. Each flipped
    bit admits neighbors that narrowly landed on the other side of one
    hyperplane, lifting per-table collision for cos≈0.4 neighbors from
    p^k ≈ 0.16 to p^k + k·p^(k-1)(1-p) ≈ 0.53 and union recall across
    L=16 tables to ≈1.0 — the standard way to buy recall without more
    tables (index memory) or fewer bits (candidate blowup)."""
    return F.flatten(
        F.transform(
            keys,
            lambda key: F.array(
                key, *[key.bitwiseXOR(F.lit(1 << j).cast("long")) for j in range(k_bits)]
            ),
        )
    )


@register("simsearch_lsh_topk")
def simsearch_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4b — approximate top-10 via multi-table random-hyperplane LSH with
    single-bit multi-probe: candidates share ≥1 of the query's L·(K+1)
    probed buckets (L table keys + every 1-bit perturbation), then exact
    cosine ranks them. The corpus side explodes to L rows/vector and
    equi-joins the query's probe keys (broadcast) — at 100 TB this is one
    map-side-filtered scan, never all-pairs. Rows-only driver check;
    recall@10 ≥ 0.9 vs brute force asserted in tests/test_simsearch.py
    (SURVEY §5 gate)."""
    planes = hyperplanes()
    e = load(spark, sf_dir, "embeddings")
    # single-split scan otherwise signs the whole corpus in one task
    signed = spread(e).withColumn(
        "keys", lsh_table_keys("embedding", planes)
    )
    qkeys = F.broadcast(
        signed.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.explode(multiprobe_keys(F.col("keys"))).alias("key"))
        .distinct()
    )
    qvec = _query_vector(e)
    candidates = (
        signed.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "embedding", F.explode("keys").alias("key"))
        .join(qkeys, "key")
        .dropDuplicates(["vec_id"])
    )
    return (
        candidates.crossJoin(qvec)
        .withColumn("score", dot_product("embedding", "qvec"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("score", 5).alias("score"))
    )


# -- Product quantization (PQ) ------------------------------------------

PQ_M = 8  #: subspaces (64 dims → 8 × 8-dim)
PQ_SUBDIM = 8
PQ_K = 16  #: centroids per subspace → 4-bit codes, 32× memory vs float32
PQ_RERANK = 100  #: exact-rerank candidate pool


def pq_train_codebooks(
    e: DataFrame,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    k: int = PQ_K,
    iters: int = 3,
    sample_rows: int = 4096,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks (FAISS-style PQ training). All m
    subspaces train JOINTLY: rows explode to (vec_id, j, subvector) once,
    each Lloyd's iteration is ONE distributed job (assignment via per-j
    literal-centroid distance expressions, update via a single
    (j, cluster, dim) mean aggregate), so the loop costs iterations × 2
    jobs — not m × iterations — and driver traffic stays m × k × subdim
    doubles (4 KB) per round regardless of corpus size. Few iterations
    suffice: codebooks need to cover the subspace, not converge."""
    # bounded deterministic training sample (TakeOrdered — k rows cross the
    # cluster, not the corpus); codebook quality needs coverage, not volume
    e = e.orderBy("vec_id").limit(sample_rows)
    subs = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice("embedding", j * subdim + 1, subdim).alias("sub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.j").alias("j"), F.col("s.sub").alias("sub"))

    # deterministic init: subspace slices of the k lowest-id vectors
    first = e.orderBy("vec_id").limit(k).collect()
    if len(first) < k:
        raise ValueError(f"PQ training needs ≥{k} vectors")
    books = [
        [
            [round(float(x), 9) for x in r["embedding"][j * subdim : (j + 1) * subdim]]
            for r in first
        ]
        for j in range(m)
    ]

    for _ in range(iters):
        # the m codebooks as ONE nested literal; each row indexes its
        # subspace's 16 centroids with element_at and folds distances via
        # transform/aggregate. The expression tree stays tiny (fast Janino
        # compile each round); the folds run interpreted, which is fine
        # because training reads a bounded sample by design (codebooks need
        # coverage, not the corpus — the FAISS convention). Built as ONE
        # JVM-parsed SQL string: the nested-F.lit Column build cost ~2
        # py4j round trips per codebook element (m·k·subdim ≈ 1k elements
        # × iters ≈ 2 s/round of driver time, the r15 profile's dominant
        # simsearch_pq_topk build cost); the parsed tree — and therefore
        # every distance, assignment, and codebook — is identical.
        books_sql = (
            "array("
            + ",".join(
                "array(" + ",".join(sql_double_array(c) for c in book) + ")"
                for book in books
            )
            + ")"
        )
        dists = F.expr(
            f"transform(element_at({books_sql}, j + 1),"
            " c -> aggregate(zip_with(sub, c,"
            " (x, y) -> POWER(CAST(x AS DOUBLE) - y, 2.0D)),"
            " 0.0D, (acc, v) -> acc + v))"
        )
        assigned = subs.select(
            "j",
            "sub",
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("c"),
        )
        rows = (
            assigned.select("j", "c", F.posexplode("sub").alias("dim", "val"))
            .groupBy("j", "c", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("mean"))
            .collect()
        )
        new = [[list(books[j][c]) for c in range(k)] for j in range(m)]
        for r in rows:
            new[r["j"]][r["c"]][r["dim"]] = round(r["mean"], 9)
        books = new
    return books


def _sq_dist_flat_sql(vec_sql: str, offset: int, centroid: list[float]) -> str:
    """Flat (HOF-free) squared distance from ``vec_sql[offset:offset+len]``
    to a literal centroid — pure arithmetic that stays inside whole-stage
    codegen, for the full-corpus encode path, as SQL text (the m·k·subdim
    ≈ 1k-term Column-object build cost ~4k py4j round trips ≈ 3 s of
    driver time per pq_encode call — r15; the parsed tree and every
    distance are identical)."""
    return " + ".join(
        f"POWER(CAST(element_at({vec_sql}, {offset + d + 1}) AS DOUBLE)"
        f" - {float(c)!r}D, 2.0D)"
        for d, c in enumerate(centroid)
    )


def pq_encode(e: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """vectors → (vec_id, embedding, codes array<int>): per subspace, the id
    of the nearest codebook centroid. All m × k distances are FLAT codegen
    arithmetic in ONE projection — a single scan encodes the corpus; at
    100 TB the 8-byte codes are what you persist and serve from."""
    code_sqls = []
    for j, book in enumerate(books):
        dists = (
            "array("
            + ",".join(
                _sq_dist_flat_sql("embedding", j * PQ_SUBDIM, c) for c in book
            )
            + ")"
        )
        code_sqls.append(
            f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
        )
    return e.select(
        "vec_id",
        "embedding",
        F.expr("array(" + ",".join(code_sqls) + ")").alias("codes"),
    )


@register("simsearch_pq_topk")
def simsearch_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4b — PQ + asymmetric distance + exact re-rank: the memory-bound ANN
    tier. Vectors are compressed to m=8 4-bit codes (32× smaller than
    float32); the query builds an m × k lookup table of subspace distances
    driver-side (512 doubles), approximate distance is a sum of m
    element_at lookups (no float math per dimension), the top-100 by ADC
    re-rank with the exact dot product, and the top-10 of those return.
    At 100 TB: codes for 10⁹ vectors fit in ~8 GB (memory-resident where
    raw vectors never could be), the table is a broadcast literal, and the
    scan+lookup is codegen'd — recall governed by (m, k, rerank pool),
    asserted vs brute force in tests/test_simsearch.py."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_train_codebooks(e)
    encoded = pq_encode(e, books)

    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).collect()[0]["embedding"]
    q = [float(x) for x in q]
    # ADC table: exact distance from the query's j-th slice to every centroid
    table = [
        [
            sum(
                (q[j * PQ_SUBDIM + d] - c[d]) ** 2 for d in range(PQ_SUBDIM)
            )
            for c in book
        ]
        for j, book in enumerate(books)
    ]
    lit_table = [F.array(*[F.lit(x) for x in row]) for row in table]
    adc = sum(
        (F.element_at(lit_table[j], F.element_at("codes", j + 1) + 1))
        for j in range(PQ_M)
    )
    candidates = (
        encoded.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("approx_dist", adc)
        .orderBy(F.asc("approx_dist"), F.asc("vec_id"))
        .limit(PQ_RERANK)
    )
    return (
        candidates.withColumn(
            "score", F.round(dot_product("embedding", sql_double_array(q)), 5)
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "score")
    )


@register("simsearch_ivf_kmeans_topk")
def simsearch_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4c — IVF with a TRAINED coarse quantizer: k-means centroids (not the
    given label column) define the inverted cells, the production IVF
    layout. nprobe=3: the query scores only vectors whose cell is one of
    its 3 best centroids — recall beyond a single cell at ~3/k of the
    corpus cost (dial: nprobe up for recall, k up for pruning). Probe
    order is by centroid INNER PRODUCT with the query (descending), not
    L2 distance: the final ranking objective is max dot product, and for
    unnormalized embeddings the L2-nearest centroid is not the
    best-scoring one — measured +0.1–0.2 recall@10 at the same scan
    fraction on the gate fixtures. At 100 TB the cell id is the partition
    key of the lake layout, so nprobe cells == partition-pruned scans;
    centroids train on a bounded sample with the engine's centroids-only
    loop. Exact re-rank inside the probed cells. Iterative training ⇒
    rows-only check; recall@10 ≥ 0.8 vs brute force asserted in
    tests/test_simsearch.py."""
    from avro_parquet_spark_example_spark.operators.clustering import (
        assign_clusters,
        kmeans_fit,
    )

    nprobe = 3
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, _ = kmeans_fit(e, k=8, max_iters=6)
    assigned = assign_clusters(e, centroids).select("vec_id", "embedding", "cluster")

    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).collect()[0]["embedding"]
    q = [float(x) for x in q]
    # driver-side: the query's nprobe best cells by q·centroid (k tiny dots)
    by_score = sorted(
        range(len(centroids)),
        key=lambda c: -sum(q[d] * centroids[c][d] for d in range(len(q))),
    )
    probe = by_score[:nprobe]

    return (
        assigned.filter(F.col("cluster").isin(probe))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn(
            "score", F.round(dot_product("embedding", sql_double_array(q)), 5)
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "score")
    )


@register(
    "vec_centroid_per_label",
    oracle="""
    WITH fixed AS (
        SELECT label, r.range AS pos,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 10000000) AS BIGINT) AS v7
        FROM embeddings, RANGE(1, 65) r
    )
    SELECT label, pos,
           CAST(SUM(v7) AS BIGINT) AS sum_v7,
           COUNT(*) AS n,
           ROUND(SUM(v7) / 1e7 / COUNT(*), 6) AS mean_val
    FROM fixed
    GROUP BY label, pos
    """,
)
def vec_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3b — per-label embedding centroids in long form (label, dimension,
    sum/count/mean): the class-prototype computation behind centroid
    classifiers, IVF cell refinement, and k-means' assignment step.
    ``posexplode`` turns the vector column into (row, dim, value) triples so
    the centroid is ONE map-side-combined aggregation keyed by
    (label, dim) — the layout that scales, because no executor ever holds
    more than a partition of scalars and the shuffle carries |labels|×dim
    partials, not vectors. Elements are fixed-pointed to exact BIGINTs
    (floor of value×1e7 — float32 carries ~7 significant digits) before
    summing, so the cross-row sums are integer-exact and order-independent;
    a double→DECIMAL cast is NOT used here because the two engines round
    the 10th decimal of a double differently."""
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.floor(F.col("val").cast("double") * 10000000).alias("v7"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.sum("v7").alias("sum_v7"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v7") / F.lit(1e7) / F.count(F.lit(1)), 6).alias("mean_val"),
    )


@register(
    "simsearch_batch_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
               WHERE vec_id < 5)
    SELECT qid, vec_id, ROUND(dot, 5) AS score
    FROM (
        SELECT q.qid, e.vec_id,
               (SELECT SUM(CAST(e.embedding[g.i] AS DOUBLE)
                           * CAST(q.qvec[g.i] AS DOUBLE))
                FROM GENERATE_SERIES(1, 64) g(i)) AS dot,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY (SELECT SUM(CAST(e.embedding[g.i] AS DOUBLE)
                                        * CAST(q.qvec[g.i] AS DOUBLE))
                             FROM GENERATE_SERIES(1, 64) g(i)) DESC, e.vec_id
               ) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.qid
    )
    WHERE rn <= 3
    """,
)
def simsearch_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3b — BATCH exact top-k: 5 query vectors answered in ONE corpus
    scan (the realistic serving/eval shape — queries arrive in batches,
    and re-scanning the corpus per query would multiply cost by the batch
    size). The query block broadcasts (batch-cardinality, tiny at any
    corpus scale); every corpus row scores all queries in place, and one
    query-partitioned window takes top-3 per query — corpus rows stream
    through exactly once. Ties break on vec_id, so top-3 is a total order
    cross-engine."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("score", dot_product("embedding", "qvec"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", F.round("score", 5).alias("score"))
    )


@register(
    "vec_quantize_int8",
    oracle="""
    WITH scaled AS (
        SELECT vec_id, embedding,
               (SELECT MAX(ABS(CAST(embedding[g.i] AS DOUBLE)))
                FROM GENERATE_SERIES(1, 64) g(i)) / 127 AS scale
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 9) AS scale,
           CASE WHEN scale = 0 THEN TRUE ELSE
           (SELECT MAX(ABS(CAST(embedding[g.i] AS DOUBLE)
                           - ROUND(CAST(embedding[g.i] AS DOUBLE) / scale) * scale))
            FROM GENERATE_SERIES(1, 64) g(i)) <= scale / 2 + 1e-12 END AS err_bounded,
           CAST(CASE WHEN scale = 0 THEN 64 ELSE
           (SELECT SUM(CASE WHEN ROUND(CAST(embedding[g.i] AS DOUBLE) / scale)
                                 BETWEEN -127 AND 127 THEN 1 ELSE 0 END)
            FROM GENERATE_SERIES(1, 64) g(i)) END AS BIGINT) AS n_in_range
    FROM scaled
    """,
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4c — symmetric int8 scalar quantization, the storage tier BETWEEN
    raw float32 and PQ codes (4× smaller than float32, 8× cheaper than
    doubles; the form vector stores ship to disk before product
    quantization's 32×). Per vector: scale = max|v|/127, code_i =
    round(v_i/scale) ∈ [−127,127]. The query emits the per-vector proof
    obligations rather than the codes (keeps the cross-engine check on
    scalars): reconstruction error ≤ scale/2 per component, and every code
    in range — both must hold for EVERY vector. Both engines round halves
    away from zero (verified), so the code values are identical.

    Scale shape: pure per-row higher-order expressions — no shuffle at all;
    quantizing 100 TB of vectors is one scan + one write."""
    e = load(spark, sf_dir, "embeddings")
    as_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = (
        F.aggregate(
            as_d, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
        )
        / 127
    )
    with_scale = e.select("vec_id", as_d.alias("v"), scale.alias("scale"))
    code = lambda x: F.round(x / F.col("scale"))  # noqa: E731
    max_err = F.aggregate(
        F.transform(F.col("v"), lambda x: F.abs(x - code(x) * F.col("scale"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    n_in_range = F.aggregate(
        F.transform(
            F.col("v"),
            lambda x: code(x).between(-127, 127).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # all-zero vector: scale = 0, every code is 0 by definition — guard the
    # division (Spark x/0 yields NULL while DuckDB yields NaN; the CASE
    # keeps both engines on the same closed-form answer)
    zero = F.col("scale") == 0
    return with_scale.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.when(zero, F.lit(True))
        .otherwise(max_err <= F.col("scale") / 2 + 1e-12)
        .alias("err_bounded"),
        F.when(zero, F.lit(64).cast("long"))
        .otherwise(n_in_range)
        .alias("n_in_range"),
    )


# ---------------------------------------------------------------------------
# Binary quantization (sign bits) + Hamming pre-filter, and matryoshka
# prefix search — the two cheapest ANN storage tiers below int8/PQ.


def signbit_words(vec: Column, dim: int = 64, word: int = 32) -> Column:
    """Pack the sign bits of ``vec`` into ``dim/word`` little BIGINT words
    (Horner fold per word: first element → highest bit). 64 float32 dims
    become 8 bytes — a 32× compression, matching PQ's ratio at a fraction
    of its encode cost (no codebooks, no training). Pure codegen fold, no
    Python."""
    words = [
        F.aggregate(
            F.slice(vec, j * word + 1, word),
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0),
        )
        for j in range(dim // word)
    ]
    return F.array(*words)


def hamming(code_a: Column, code_b: Column) -> Column:
    """Hamming distance between two packed sign-bit codes: popcount of the
    per-word XOR, summed — 2 CPU instructions per 32 dims."""
    return F.aggregate(
        F.zip_with(
            code_a, code_b, lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _word_sql(tbl: str, col: str, off: int) -> str:
    """DuckDB twin of one signbit word (weights 2^(32-i) == the Horner
    order: first element highest bit)."""
    return f"""CAST((SELECT SUM(CASE WHEN {tbl}.{col}[{off} + g.i] > 0
                    THEN (CAST(1 AS BIGINT) << (32 - g.i))
                    ELSE CAST(0 AS BIGINT) END)
           FROM GENERATE_SERIES(1, 32) g(i)) AS BIGINT)"""


_HAM_SQL = (
    f"(bit_count(xor({_word_sql('e', 'embedding', 0)}, {_word_sql('q', 'qvec', 0)}))"
    f" + bit_count(xor({_word_sql('e', 'embedding', 32)}, {_word_sql('q', 'qvec', 32)})))"
)

#: Hamming radius for the candidate pre-filter: ~the 5th percentile of the
#: distance distribution (random 64-bit codes center at 32), so the exact
#: rerank touches ~5% of the corpus at every SF.
HAMMING_RADIUS = 26


@register(
    "simsearch_hamming_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cand AS (
        SELECT e.vec_id, e.label, e.embedding,
               CAST({_HAM_SQL} AS BIGINT) AS hamming_d
        FROM embeddings e, q
        WHERE e.vec_id <> {QUERY_VEC_ID}
    )
    SELECT e.vec_id, e.label, e.hamming_d, ROUND({_DOT_SQL}, 5) AS score
    FROM cand e, q
    WHERE e.hamming_d <= {HAMMING_RADIUS}
    ORDER BY {_DOT_SQL} DESC, e.vec_id
    LIMIT 10
    """,
)
def simsearch_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4d — binary-quantization ANN: pack sign bits to 8-byte codes,
    pre-filter candidates by Hamming radius (popcount over XOR — the
    cheapest distance in existence), then exact-rerank the ~5% survivors
    by true dot product. The memory-bandwidth tier below int8 and PQ:
    at 100 TB of float32 vectors the code table is ~3 TB, and the scan
    that prunes 95% of the corpus reads ONLY codes (column pruning keeps
    the float vectors untouched until the rerank's narrow fetch). Both
    stages are whole-stage-codegen folds — no UDF, no shuffle; the top-k
    is TakeOrderedAndProject."""
    e = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("qvec"),
            signbit_words(F.col("embedding")).alias("qcode"),
        )
    )
    cand = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .withColumn("hamming_d", hamming(signbit_words(F.col("embedding")), F.col("qcode")))
        .filter(F.col("hamming_d") <= HAMMING_RADIUS)
    )
    return (
        cand.withColumn("score", dot_product("embedding", "qvec"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", "hamming_d", F.round("score", 5).alias("score"))
    )


#: Matryoshka prefix length: the first 32 of 64 dims (MRL-trained models
#: order information by prefix; on this fixture the prefix is just the
#: first half).
MRL_DIM = 32

_DOT32_SQL = f"""(SELECT SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(q.qvec[g.i] AS DOUBLE))
               FROM GENERATE_SERIES(1, {MRL_DIM}) g(i))"""
_NORM32_E = f"""SQRT((SELECT SUM(CAST(e.embedding[g.i] AS DOUBLE) * CAST(e.embedding[g.i] AS DOUBLE))
               FROM GENERATE_SERIES(1, {MRL_DIM}) g(i)))"""
_NORM32_Q = f"""SQRT((SELECT SUM(CAST(q.qvec[g.i] AS DOUBLE) * CAST(q.qvec[g.i] AS DOUBLE))
               FROM GENERATE_SERIES(1, {MRL_DIM}) g(i)))"""


@register(
    "simsearch_matryoshka_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id,
           ROUND({_DOT32_SQL} / ({_NORM32_E} * {_NORM32_Q}), 5) AS score_prefix,
           ROUND({_DOT_SQL}, 5) AS score_full
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID} AND {_NORM32_E} > 0
    ORDER BY {_DOT32_SQL} / ({_NORM32_E} * {_NORM32_Q}) DESC, e.vec_id
    LIMIT 10
    """,
)
def simsearch_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4e — matryoshka (prefix-truncated) search: score on the first
    {MRL_DIM} dims renormalized to unit length — HALF the bytes read and
    half the multiply-adds per comparison, the standard cheap first pass
    for MRL-trained embedding models (Kusupati et al. 2022). Output pairs
    the prefix score with the full-dim score so the quality gap is
    directly observable. The renormalization (dot32 / (‖e32‖·‖q32‖)) is a
    fixed IEEE sequence identical on both engines; zero-norm prefixes are
    excluded by the same predicate on both sides (Spark /0 → NULL vs
    DuckDB NaN would otherwise diverge). At scale the prefix pass is a
    column-pruned scan of half the vector bytes; survivors fetch full
    vectors for rerank — same narrow-fetch shape as the Hamming tier."""
    e = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("qvec")
        )
    )
    # width-limited flat dots (no slice materialization): same IEEE
    # sequence as the previous slice+fold form, but codegen arithmetic
    sq_norm = lambda c: dot_product(c, c, dim=MRL_DIM)  # noqa: E731  (name)
    dot32 = dot_product("embedding", "qvec", dim=MRL_DIM)
    norm_e = F.sqrt(sq_norm("embedding"))
    norm_q = F.sqrt(sq_norm("qvec"))
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .withColumn("norm_e", norm_e)
        .filter(F.col("norm_e") > 0)
        .withColumn("score_prefix", dot32 / (F.col("norm_e") * norm_q))
        .withColumn("score_full", dot_product("embedding", "qvec"))
        .orderBy(F.desc("score_prefix"), F.asc("vec_id"))
        .limit(10)
        .select(
            "vec_id",
            F.round("score_prefix", 5).alias("score_prefix"),
            F.round("score_full", 5).alias("score_full"),
        )
    )


#: RRF constant (Cormack et al. 2009 default).
RRF_K = 60
#: Depth of each retrieval list fed into the fusion.
RRF_DEPTH = 50

_SPARSE_TF_SQL = """
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
            FROM documents
        ) WHERE term <> '' GROUP BY doc_id, term
    ),
    norms AS (
        SELECT doc_id, SQRT(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
        FROM tf GROUP BY doc_id
    ),
    sq AS (SELECT term, tf AS qtf FROM tf WHERE doc_id = 0),
    sqn AS (SELECT nrm AS qnrm FROM norms WHERE doc_id = 0),
    sdots AS (
        SELECT t.doc_id, SUM(t.tf * sq.qtf) AS dot
        FROM tf t JOIN sq ON sq.term = t.term
        WHERE t.doc_id <> 0 GROUP BY t.doc_id
    ),
    sparse_list AS (
        SELECT d.doc_id,
               ROUND(CAST(d.dot AS DOUBLE) / (n.nrm * sqn.qnrm), 5) AS cosine
        FROM sdots d JOIN norms n ON n.doc_id = d.doc_id CROSS JOIN sqn
        ORDER BY CAST(d.dot AS DOUBLE) / (n.nrm * sqn.qnrm) DESC, d.doc_id
        LIMIT 50
    ),
    sparse_rank AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS sr
        FROM sparse_list
    )"""


#: DuckDB CTEs shared by the hybrid-retrieval oracles: the query vector
#: ``q`` and the dense top-RRF_DEPTH list with its ranks ``dense_rank``.
_DENSE_RANK_DUCK = f"""q AS (SELECT embedding AS qvec FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID}),
    dense_list AS (
        SELECT e.vec_id, ROUND({_DOT_SQL}, 5) AS score
        FROM embeddings e, q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY {_DOT_SQL} DESC, e.vec_id
        LIMIT {RRF_DEPTH}
    ),
    dense_rank AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS dr
        FROM dense_list
    )"""


@register(
    "search_hybrid_rrf",
    oracle=f"""
    WITH {_DENSE_RANK_DUCK},{_SPARSE_TF_SQL}
    SELECT COALESCE(d.vec_id, s.doc_id) AS doc_id,
           d.dr AS dense_rank, s.sr AS sparse_rank,
           ROUND(COALESCE(1.0 / ({RRF_K} + d.dr), 0.0)
                 + COALESCE(1.0 / ({RRF_K} + s.sr), 0.0), 6) AS rrf
    FROM dense_rank d FULL OUTER JOIN sparse_rank s ON s.doc_id = d.vec_id
    ORDER BY COALESCE(1.0 / ({RRF_K} + d.dr), 0.0)
             + COALESCE(1.0 / ({RRF_K} + s.sr), 0.0) DESC,
             COALESCE(d.vec_id, s.doc_id)
    LIMIT 10
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4f — HYBRID retrieval by reciprocal-rank fusion (Cormack et al.
    2009, k=60): the dense tier's top-50 (cosine over embeddings, query
    vec 0) fused with the sparse tier's top-50 (tf-cosine posting-list
    retrieval, query doc 0) by RRF = Σ 1/(k + rank) — the standard
    RAG-stack combination, robust to either tier's score scale because
    only RANKS enter the fusion. Ranks are integers derived from rounded
    scores with id tiebreaks (both engines identical), so the RRF sum is
    a two-term fixed IEEE sequence — exact. Documents outside a tier's
    list contribute 0 from that tier (standard top-K RRF).

    Scale: each tier is its own pruned plan (TakeOrderedAndProject — no
    global sort); the fusion joins two K-row lists, trivially broadcast.
    The per-tier rank windows run on K=50 rows BY CONSTRUCTION (post-
    limit), so the single-partition window is bounded, not a scale
    hazard. At 100 TB the tiers are the expensive part and both are
    already index-shaped (code/posting pruning); fusion cost is O(K)."""
    e = load(spark, sf_dir, "embeddings")
    q = _query_vector(e)
    dense_list = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .withColumn("score", dot_product("embedding", "qvec"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(RRF_DEPTH)
        .select("vec_id", F.round("score", 5).alias("score"))
    )
    from pyspark.sql import Window

    dense_rank = dense_list.withColumn(
        "dr",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("vec_id"))),
    ).select("vec_id", "dr")

    from avro_parquet_spark_example_spark.operators.text_analysis import (
        sparse_cosine_topk,
    )

    d = load(spark, sf_dir, "documents")
    sparse_list = sparse_cosine_topk(d, QUERY_VEC_ID, k=RRF_DEPTH)
    sparse_rank = sparse_list.withColumn(
        "sr",
        F.row_number().over(Window.orderBy(F.desc("cosine"), F.asc("doc_id"))),
    ).select("doc_id", "sr")

    fused = dense_rank.join(
        sparse_rank, dense_rank["vec_id"] == sparse_rank["doc_id"], "full_outer"
    )
    rrf = F.coalesce(1.0 / (RRF_K + F.col("dr")), F.lit(0.0)) + F.coalesce(
        1.0 / (RRF_K + F.col("sr")), F.lit(0.0)
    )
    return (
        fused.select(
            F.coalesce("vec_id", "doc_id").alias("doc_id"),
            F.col("dr").alias("dense_rank"),
            F.col("sr").alias("sparse_rank"),
            rrf.alias("rrf_raw"),
        )
        .orderBy(F.desc("rrf_raw"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            "dense_rank",
            "sparse_rank",
            F.round("rrf_raw", 6).alias("rrf"),
        )
    )


@register(
    "search_rerank_stub",
    oracle=f"""
    WITH {_DENSE_RANK_DUCK},{_SPARSE_TF_SQL},
    fused AS (
        SELECT COALESCE(d.vec_id, s.doc_id) AS doc_id,
               COALESCE(1.0 / ({RRF_K} + d.dr), 0.0)
               + COALESCE(1.0 / ({RRF_K} + s.sr), 0.0) AS rrf
        FROM dense_rank d FULL OUTER JOIN sparse_rank s ON s.doc_id = d.vec_id
        ORDER BY rrf DESC, COALESCE(d.vec_id, s.doc_id)
        LIMIT 10
    )
    SELECT doc_id,
           SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':{QUERY_VEC_ID}'), 1, 8)
             AS rerank_key,
           ROUND(rrf, 6) AS rrf
    FROM fused
    """,
)
def search_rerank_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4g — the last RAG-retrieval stage: a CROSS-ENCODER RERANK over the
    hybrid candidates. The 10 RRF survivors go through an Arrow-batched
    pandas UDF standing in for the model forward pass — in production
    this is where an ONNX/torch scorer runs (per executor, batch-sized
    Arrow transfers, no JVM round-trips per row); no model runtime ships
    in this sandbox, so the stub scores deterministically
    (md5(doc_id:query) head — honestly fake, but the PLUMBING — Arrow
    batch shape, schema, candidate-set cardinality — is the real
    operator, the multimodal-decode pattern). The oracle replays the
    same md5 arithmetic, so even the Python boundary is hash-checked.

    Scale: rerank cost is model-bound, not data-bound — K candidates per
    query regardless of corpus size; the expensive stages (tiers +
    fusion) stay pruned as in search_hybrid_rrf."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def cross_encoder_stub(doc_id):
        import hashlib

        return doc_id.map(
            lambda i: hashlib.md5(f"{i}:{QUERY_VEC_ID}".encode()).hexdigest()[:8]
        )

    fused = search_hybrid_rrf(spark, sf_dir).select(
        "doc_id", F.col("rrf")
    )
    return fused.select(
        "doc_id",
        cross_encoder_stub(F.col("doc_id")).alias("rerank_key"),
        "rrf",
    )


#: MMR re-ranking constants: candidate-pool depth, picks, and the
#: relevance/diversity trade-off λ (Carbonell & Goldstein 1998). The
#: diversity complement is written as the LITERAL 0.3 on both engines —
#: computing 1-0.7 in IEEE gives 0.30000000000000004, a different double.
MMR_CANDIDATES = 20
MMR_K = 5
MMR_LAMBDA = 0.7
_MMR_LAMBDA_C = 0.3

#: Pair dot between a candidate row (c.emb) and a selected row (s.emb) —
#: the same index-order float→double fold as _DOT_SQL.
_MMR_PAIR_DOT = """(SELECT SUM(CAST(c.emb[g.i] AS DOUBLE) * CAST(s.emb[g.i] AS DOUBLE))
                    FROM GENERATE_SERIES(1, 64) g(i))"""


def _mmr_steps_sql() -> str:
    """Unrolled greedy-MMR CTE chain s1..s{MMR_K}: the selection loop is
    bounded (K picks), so the 'iterative' algorithm IS expressible as
    static SQL — which is what lets this query be hash-checked instead of
    rows-only."""
    steps = [
        """,
    s1 AS (SELECT vec_id, emb, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1)"""
    ]
    for i in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id, emb FROM s{j}" for j in range(1, i)
        )
        steps.append(f""",
    s{i} AS (
        SELECT c.vec_id, c.emb, c.rel
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM ({prev}) p)
        ORDER BY {MMR_LAMBDA} * c.rel - {_MMR_LAMBDA_C} * (
                   SELECT MAX({_MMR_PAIR_DOT}) FROM ({prev}) s
                 ) DESC, c.vec_id
        LIMIT 1
    )""")
    return "".join(steps)


@register(
    "search_mmr_rerank",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cand AS (
        SELECT e.vec_id, e.embedding AS emb, {_DOT_SQL} AS rel
        FROM embeddings e, q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY {_DOT_SQL} DESC, e.vec_id
        LIMIT {MMR_CANDIDATES}
    ){_mmr_steps_sql()}
    {" UNION ALL ".join(f"SELECT {i} AS rank, vec_id, ROUND(rel, 5) AS rel FROM s{i}" for i in range(1, MMR_K + 1))}
    """,
)
def search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4h — maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998, λ=0.7): greedily re-rank the dense top-20 so each
    pick maximizes λ·rel(d) − 0.3·max_{s∈S} sim(d, s) — the standard
    RAG-stack answer to near-duplicate retrieval lists (a corpus with
    near-dup documents fills plain top-k with copies; MMR's second term
    suppresses them, which is why retrieval-time diversification and
    offline dedup are the same family).

    Exactness: rel and pair sims are the index-order float→double fold
    (bit-identical cross-engine), the MMR combination is a fixed IEEE
    sequence with LITERAL 0.7/0.3 coefficients, ties break on vec_id —
    and because the greedy loop is BOUNDED (K=5), it unrolls into a
    static SQL CTE chain, so the whole algorithm is hash-checked against
    DuckDB rather than rows-only.

    Scale: the candidate pool is K-bounded by the dense tier
    (TakeOrderedAndProject — corpus-size-independent), each of the K−1
    selection rounds is one ≤20×≤5 broadcast cross join + a 1-row
    argmax collect (the bounded-scalar iterative pattern of
    kmeans/power-iteration); model cost is O(K²·dim) per query
    regardless of corpus size."""
    e = load(spark, sf_dir, "embeddings")
    q = _query_vector(e)
    cand = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .withColumn("rel", dot_product("embedding", "qvec"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
            "rel",
        )
        .localCheckpoint(eager=True)  # ≤20 rows; feeds every greedy round
    )
    pair_dot = F.aggregate(
        F.zip_with("emb", "semb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    selected: list[int] = []
    picks: list[tuple[int, int]] = []
    for rank in range(1, MMR_K + 1):
        rem = cand.filter(~F.col("vec_id").isin(selected)) if selected else cand
        if not selected:
            scored = rem.select("vec_id", F.col("rel").alias("mmr"))
        else:
            sel_embs = F.broadcast(
                cand.filter(F.col("vec_id").isin(selected)).select(
                    F.col("emb").alias("semb")
                )
            )
            scored = (
                rem.crossJoin(sel_embs)
                .withColumn("pd", pair_dot)
                .groupBy("vec_id")
                .agg(F.first("rel").alias("rel"), F.max("pd").alias("maxsim"))
                .select(
                    "vec_id",
                    (
                        F.col("rel") * F.lit(MMR_LAMBDA)
                        - F.lit(_MMR_LAMBDA_C) * F.col("maxsim")
                    ).alias("mmr"),
                )
            )
        rows = scored.orderBy(F.desc("mmr"), F.asc("vec_id")).limit(1).collect()
        if not rows:
            # corpus smaller than MMR_K: return the shorter ranking (the
            # oracle simply emits fewer rows) instead of IndexError
            break
        top = rows[0]
        selected.append(top.vec_id)
        picks.append((rank, top.vec_id))
    ranks = spark.createDataFrame(picks, schema="rank INT, vec_id BIGINT")
    return ranks.join(
        cand.select("vec_id", F.round("rel", 5).alias("rel")), "vec_id"
    ).select("rank", "vec_id", "rel")


def _labelled_queries(e: DataFrame) -> DataFrame:
    """Broadcast (qid, qvec, qlabel) of the five query vectors
    (vec_id < 5) the labelled-retrieval queries score against."""
    return F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            F.col("label").alias("qlabel"),
        )
    )


@register(
    "eval_retrieval_metrics",
    oracle=f"""
    WITH qs AS (
        SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        FROM embeddings WHERE vec_id < 5
    ),
    ranked AS (
        SELECT q.qid, q.qlabel, e.vec_id, e.label,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY (SELECT SUM(CAST(e.embedding[g.i] AS DOUBLE)
                                        * CAST(q.qvec[g.i] AS DOUBLE))
                             FROM GENERATE_SERIES(1, 64) g(i)) DESC,
                            e.vec_id) AS rnk
        FROM embeddings e, qs q
        WHERE e.vec_id <> q.qid
    ),
    top AS (
        SELECT qid,
               CASE WHEN label = qlabel THEN 1 ELSE 0 END AS rel, rnk
        FROM ranked WHERE rnk <= 10
    ),
    per_q AS (
        SELECT qid,
               CAST(SUM(rel) AS BIGINT) AS n_rel,
               COALESCE(MIN(CASE WHEN rel = 1 THEN rnk END), 0)
                   AS first_rel_rank,
               SUM(CAST(ROUND(rel / LOG2(rnk + 1), 9) AS DECIMAL(18,9)))
                   AS dcg
        FROM top GROUP BY qid
    ),
    idcg AS (
        SELECT a.n, SUM(CAST(ROUND(1.0 / LOG2(b.i + 1), 9)
                             AS DECIMAL(18,9))) AS v
        FROM GENERATE_SERIES(1, 10) a(n)
        JOIN GENERATE_SERIES(1, 10) b(i) ON b.i <= a.n
        GROUP BY a.n
    )
    SELECT p.qid, p.n_rel, p.first_rel_rank,
           CASE WHEN p.n_rel = 0 THEN 0.0
                ELSE ROUND(CAST(p.dcg AS DOUBLE) / CAST(i.v AS DOUBLE), 6)
           END AS ndcg10
    FROM per_q p LEFT JOIN idcg i ON i.n = p.n_rel
    """,
)
def eval_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-eval — retrieval quality metrics computed DISTRIBUTED: for a
    5-query batch, exact cosine top-10 (one corpus scan, per-query
    window), then per-query precision inputs (n_rel), MRR input
    (first_rel_rank), and nDCG@10 — relevance = same-label (the standard
    proxy when embeddings are label-clustered). This is the evaluation
    harness every ANN tier in this repo (LSH/IVF/PQ/Hamming/Matryoshka)
    is tuned against, expressed as a first-class oracle-checked query
    instead of driver-side test code — at 100 TB you evaluate recall on a
    sampled query set exactly like this, with the corpus scan dominating
    and metrics folding per query id.

    Exactness: DCG terms rel/log2(rank+1) are rounded to 9 decimals and
    summed as DECIMAL(18,9) (order-independent — the dsum rule), IDCG is
    an ordered fold over 1..n_rel, and the final division is one IEEE op
    rounded to 6."""
    e = load(spark, sf_dir, "embeddings")
    qs = _labelled_queries(e)
    scored = (
        e.crossJoin(qs)
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("score", dot_product("embedding", "qvec"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("vec_id"))
    top = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "qid",
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias(
                "rel"
            ),
            "rnk",
        )
    )
    term = F.round(F.col("rel") / F.log2(F.col("rnk") + 1), 9).cast(
        "decimal(18,9)"
    )
    per_q = top.groupBy("qid").agg(
        F.sum("rel").alias("n_rel"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0)
        ).alias("first_rel_rank"),
        F.sum(term).alias("dcg"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.col("n_rel").cast("int")),
        F.lit(0).cast("decimal(18,9)"),
        lambda acc, i: (
            acc
            + F.round(F.lit(1.0) / F.log2(i.cast("double") + 1), 9).cast(
                "decimal(18,9)"
            )
        ).cast("decimal(18,9)"),  # fold lambda must return the acc type
    )
    return per_q.select(
        "qid",
        "n_rel",
        "first_rel_rank",
        F.when(F.col("n_rel") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("dcg").cast("double") / idcg.cast("double"), 6
            )
        )
        .alias("ndcg10"),
    )


@register(
    "vec_l2_normalize",
    oracle="""
    WITH n AS (
        SELECT vec_id, label, embedding,
               SQRT((SELECT SUM(CAST(e.embedding[g.i] AS DOUBLE)
                                * CAST(e.embedding[g.i] AS DOUBLE))
                     FROM GENERATE_SERIES(1, 64) g(i))) AS norm
        FROM embeddings e
    )
    SELECT vec_id, label,
           ROUND(norm, 6) AS l2_norm,
           list_transform(embedding,
                          x -> ROUND(CAST(x AS DOUBLE) / norm, 6)) AS unit
    FROM n WHERE norm > 0
    """,
)
def vec_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3c — L2 normalization of the embedding column: cosine similarity
    degenerates to a dot product on unit vectors, so EVERY retrieval tier
    in this repo gets cheaper when the corpus is normalized once at
    ingest — this is that ingest pass. Norm via the ordered-fold dot
    product (deterministic summation, the repo's cross-engine rule);
    zero vectors are dropped rather than emitted as NaN/NULL garbage (the
    int8-quantization query documents the same convention). Each unit
    component is rounded to 6 for the hash — storage would keep full
    precision.

    Map-only: one codegen'd fold + one transform per row, no shuffle, no
    Python — at 100 TB this fuses into whatever scan follows it."""
    e = load(spark, sf_dir, "embeddings")
    norm = F.sqrt(dot_product("embedding", "embedding"))
    n = e.withColumn("norm", norm).filter(F.col("norm") > 0)
    return n.select(
        "vec_id",
        "label",
        F.round("norm", 6).alias("l2_norm"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") / F.col("norm"), 6),
        ).alias("unit"),
    )


@register(
    "vec_covariance_matrix",
    oracle="""
    WITH fixed AS (
        SELECT vec_id, r.range AS pos,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 10000000) AS BIGINT) AS v7
        FROM embeddings, RANGE(1, 65) r
    ),
    n AS (SELECT COUNT(DISTINCT vec_id) AS n FROM fixed),
    pairs AS (
        SELECT a.pos AS i, b.pos AS j,
               SUM(CAST(a.v7 AS DECIMAL(19,0)) * CAST(b.v7 AS DECIMAL(19,0)))
                   AS sxy,
               SUM(a.v7) AS sx, SUM(b.v7) AS sy
        FROM fixed a JOIN fixed b
          ON a.vec_id = b.vec_id AND a.pos <= b.pos
        GROUP BY a.pos, b.pos
    )
    SELECT i, j,
           ROUND((CAST(sxy AS DOUBLE) / n.n
                  - (CAST(sx AS DOUBLE) / n.n) * (CAST(sy AS DOUBLE) / n.n))
                 / 1e14, 9) AS cov
    FROM pairs CROSS JOIN n
    WHERE i <= 4 AND j <= 4
    """,
)
def vec_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3d — embedding covariance matrix (the PCA / whitening precursor):
    population covariance for every dimension pair, computed from exact
    fixed-point moments — Σxy as DECIMAL(38) products of the 7-digit
    quantized values (the kmeans_exact convention), Σx/Σy as exact
    longs — so the only float arithmetic is the final three divisions,
    one subtraction, one ROUND. Emitted for the leading 5×5 block (the
    full 64×64 upper triangle is computed identically; the output filter
    keeps the check readable — remove it and the same plan yields all
    2,080 cells).

    Scale shape: explode to (row, dim, value), self-join on the row key
    (i ≤ j halves the work), one map-side-combined aggregate per cell —
    shuffle volume is rows×dim for the join plus 2,080 partials; at
    100 TB you'd pre-aggregate per partition with the same expressions.
    The cell count is dim², independent of corpus size."""
    e = load(spark, sf_dir, "embeddings")
    fixed = e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.floor(F.col("val").cast("double") * 10000000).alias("v7"),
    )
    n_row = e.count()
    a, b = fixed.alias("a"), fixed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.pos") <= F.col("b.pos")),
        )
        .groupBy(F.col("a.pos").alias("i"), F.col("b.pos").alias("j"))
        .agg(
            F.sum(
                F.col("a.v7").cast("decimal(19,0)")
                * F.col("b.v7").cast("decimal(19,0)")
            ).alias("sxy"),
            F.sum("a.v7").alias("sx"),
            F.sum("b.v7").alias("sy"),
        )
    )
    cov = F.round(
        (
            F.col("sxy").cast("double") / n_row
            - (F.col("sx").cast("double") / n_row)
            * (F.col("sy").cast("double") / n_row)
        )
        / 1e14,
        9,
    )
    return pairs.filter((F.col("i") <= 4) & (F.col("j") <= 4)).select(
        "i", "j", cov.alias("cov")
    )


def _pi_round_sql(win: str, wout: str) -> str:
    """One exact power-iteration round: decimal mat-vec product, max-abs
    normalization (order-independent), 9-decimal re-quantization."""
    return f"""
    {wout}_y AS (
        SELECT g.i AS pos,
               SUM(CAST(g.m AS DECIMAL(19,0)) * w.w) AS y
        FROM gram g JOIN {win} w ON w.j = g.j
        GROUP BY g.i
    ),
    {wout}_m AS (SELECT MAX(ABS(y)) AS mx FROM {wout}_y),
    {wout} AS (
        SELECT pos AS j,
               CAST(ROUND(CAST(y AS DOUBLE) / CAST(mx AS DOUBLE), 9)
                    AS DECIMAL(12,9)) AS w
        FROM {wout}_y, {wout}_m
    )"""


#: Power-iteration round count, unrolled identically in the SQL oracle.
PI_ROUNDS = 3

#: DuckDB CTEs shared by the power-iteration oracles: the exact
#: fixed-point embeddings ``fixed``, their Gram matrix ``gram``, and
#: PI_ROUNDS unrolled rounds from the all-ones start w0 to w{PI_ROUNDS}.
_PI_ROUNDS_DUCK = (
    """
    WITH fixed AS (
        SELECT vec_id, r.range AS pos,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 10000000) AS BIGINT) AS v7
        FROM embeddings, RANGE(1, 65) r
    ),
    gram AS (
        SELECT a.pos AS i, b.pos AS j,
               SUM(CAST(a.v7 AS DECIMAL(19,0)) * CAST(b.v7 AS DECIMAL(19,0)))
                   AS m
        FROM fixed a JOIN fixed b ON a.vec_id = b.vec_id
        GROUP BY a.pos, b.pos
    ),
    w0 AS (SELECT r.range AS j, CAST(1.0 AS DECIMAL(12,9)) AS w
           FROM RANGE(1, 65) r),
    """
    + ",".join(_pi_round_sql(f"w{i}", f"w{i+1}") for i in range(PI_ROUNDS))
)


def _round_half_up9(x: float, scale: int = 9) -> Decimal:
    """Exact replica of Spark's ``ROUND(double, s)`` followed by the cast
    to ``DECIMAL(_, s)``: Java evaluates ``BigDecimal.valueOf(x)`` —
    which parses ``Double.toString``'s shortest round-trip decimal, the
    same digits CPython's ``repr`` produces — then ``setScale(s,
    HALF_UP)`` (ties away from zero, == decimal.ROUND_HALF_UP). The
    subsequent double→decimal cast is value-preserving for ≤ s-dp
    values (the rounded double is within 1 ulp ≈ 1e-17 of the s-dp
    grid point, far inside the 5e-10 tie boundary), so one quantize
    reproduces the whole Spark chain bit-for-bit."""
    return Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    )


def _gram_df(e: DataFrame) -> DataFrame:
    """The 64×64 exact Gram matrix (i, j, m = Σ v7ᵢ·v7ⱼ) as a JOIN-FREE
    single-pass aggregate: each row emits its flattened 4,096-long outer
    product (per-product max 1e14 — no long overflow; the cross-row SUM
    is decimal), partially aggregated map-side, so the only shuffle is
    4,096 partials per task. Replaces the exploded self-join on vec_id
    (corpus×64 rows shuffled + sorted twice, then the same 4,096-key
    aggregate): measured 2.4 s → 0.78 s at sf0.1, exact-equal cells.
    ``spread`` because the one-split scan otherwise generates the whole
    corpus×4096 expansion in a single task (guide §2.5)."""
    v7 = F.expr(
        "transform(embedding, x ->"
        " CAST(FLOOR(CAST(x AS DOUBLE) * 10000000) AS BIGINT))"
    )
    outer = F.expr(
        "flatten(transform(v7arr, iv -> transform(v7arr, jv -> iv * jv)))"
    )
    return (
        spread(e, width_from=e)
        .select(v7.alias("v7arr"))
        .select(F.posexplode(outer).alias("pos", "p"))
        .groupBy("pos")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("m"))
        .select(
            (F.col("pos") / 64 + 1).cast("bigint").alias("i"),
            (F.col("pos") % 64 + 1).cast("bigint").alias("j"),
            "m",
        )
    )


def _gram_collect(gram_df: DataFrame) -> list[list[int]]:
    """Collect the 64×64 exact-integer Gram matrix — a bounded driver
    merge (4,096 cells regardless of corpus size, the k-centroids
    precedent). DECIMAL(38,0) cells arrive as exact ``decimal.Decimal``;
    returned as Python ints, 0-based."""
    m = [[0] * 64 for _ in range(64)]
    for r in gram_df.collect():
        m[int(r["i"]) - 1][int(r["j"]) - 1] = int(r["m"])
    return m


def _pi_rounds_driver(gram: list[list[int]], w9: list[int]) -> list[int]:
    """PI_ROUNDS exact power-iteration rounds on the DRIVER — the same
    arithmetic the per-round Spark jobs ran, on 64-row frames that never
    warranted a distributed plan (measured: the lazy unrolled DAG plans
    288 Exchanges / 7.2 s for vec_remove_top_component; per-round
    collect+re-literal jobs still ~1 s/round of pure stage latency).

    Bit-exactness, term by term against the Spark/DuckDB forms:
    * mat-vec  SUM(m::DECIMAL(19,0) * w::DECIMAL(12,9)) — exact integer
      arithmetic at scale 9: Σ m_ij·w9_j as unbounded Python ints.
    * mx       MAX(ABS(y)) — exact integer comparison.
    * cast-to-double  y::DOUBLE / mx::DOUBLE — Python int/int true
      division is correctly rounded, same as BigDecimal.doubleValue.
    * ROUND(…, 9) + decimal cast — :func:`_round_half_up9`.
    ``w9`` is the direction vector as scale-9 integers."""
    for _ in range(PI_ROUNDS):
        w9 = _pi_step_driver(gram, w9)
    return w9


def _pi_step_driver(gram: list[list[int]], w9: list[int]) -> list[int]:
    """One exact mat-vec + max-abs-normalize round (see
    :func:`_pi_rounds_driver` for the term-by-term exactness map)."""
    y9 = [
        sum(m_i[j] * w9[j] for j in range(64)) for m_i in gram
    ]  # DECIMAL(38,9) cells as scale-9-applied-once ints (m is scale 0)
    mx9 = max(abs(v) for v in y9)
    return [
        int(_round_half_up9((v / 10**9) / (mx9 / 10**9)).scaleb(9))
        for v in y9
    ]


def _spectral_materialize(df: DataFrame) -> DataFrame:
    """Disk-backed, LINEAGE-PRESERVING materialization for the spectral
    pipelines' multi-action frames (VERDICT r9 #2 flake class): these
    ops fire many small driver actions (per-round broadcast max, norm,
    projection) against one shared intermediate, and an eager
    ``localCheckpoint`` — which DROPS lineage — turns a cache block
    evicted late in a long single-JVM session into an unrecoverable
    ``Py4JJavaError``. ``persist(DISK_ONLY)`` + a materializing count
    gives the same no-recompute behavior across the subsequent actions,
    but block loss now RECOMPUTES from lineage instead of raising. The
    frames are tiny (≤ corpus×64 exploded rows / 64×64 Gram cells), so
    disk-only storage costs nothing measurable."""
    out = df.persist(StorageLevel.DISK_ONLY)
    out.count()
    return out


@register(
    "vec_power_iteration_top_pc",
    oracle=_PI_ROUNDS_DUCK
    + f"""
    SELECT j AS pos, w AS direction FROM w{PI_ROUNDS}
    """,
)
def vec_power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3e — dominant spectral direction of the embedding Gram matrix by
    POWER ITERATION, oracle-checked end-to-end (the fourth iterative
    algorithm in the exact family, after BFS/LPA/PageRank/k-means): the
    Gram matrix is exact fixed-point (Σ v7ᵢ·v7ⱼ as DECIMAL products —
    the covariance-matrix convention), each mat-vec product is an exact
    decimal sum, and the per-round normalization divides by the MAX-ABS
    component — a max, not a float sum, so it is order-independent —
    then re-quantizes to 9 decimals. Three unrolled rounds; output is
    the direction vector (max-abs-normalized, sign follows the dominant
    component — deterministic for a fixed seed vector of ones). This
    direction is what embedding-decontamination pipelines project OUT
    (dominant-component removal, Mu & Viswanath 2018) and what a PCA
    whitening stage computes first.

    Scale: the Gram build (:func:`_gram_df`, join-free single-pass
    aggregate — dim² cells, corpus-size-independent output) is the ONLY
    corpus-sized stage, and the only distributed one: the 64-row
    mat-vec rounds run on the driver in exact integer arithmetic
    (:func:`_pi_rounds_driver` — r15: the lazy unrolled round DAG
    planned 72 Exchanges of 64-row data, ~2.2 s of pure stage
    latency)."""
    e = load(spark, sf_dir, "embeddings")
    gram = _gram_collect(_gram_df(e))
    w9 = _pi_rounds_driver(gram, [10**9] * 64)
    return spark.createDataFrame(
        [(j + 1, Decimal(w).scaleb(-9)) for j, w in enumerate(w9)],
        "pos bigint, direction decimal(12,9)",
    )


@register(
    "vec_remove_top_component",
    oracle=_PI_ROUNDS_DUCK
    + f"""
    , unit_n AS (
        SELECT SUM(CAST(w * w AS DECIMAL(30,18))) AS n2 FROM w{PI_ROUNDS}
    ),
    unit AS (
        SELECT j, CAST(ROUND(CAST(w AS DOUBLE) / SQRT(CAST(n2 AS DOUBLE)), 9)
                       AS DECIMAL(12,9)) AS u
        FROM w{PI_ROUNDS}, unit_n
    ),
    proj AS (
        SELECT f.vec_id,
               SUM(CAST(f.v7 AS DECIMAL(19,0)) * u.u) AS dot7
        FROM fixed f JOIN unit u ON u.j = f.pos
        WHERE f.vec_id < 50
        GROUP BY f.vec_id
    )
    SELECT f.vec_id, f.pos,
           ROUND(f.v7 / 1e7
                 - (CAST(p.dot7 AS DOUBLE) / 1e7) * CAST(u.u AS DOUBLE),
                 6) AS residual
    FROM fixed f
    JOIN proj p ON p.vec_id = f.vec_id
    JOIN unit u ON u.j = f.pos
    WHERE f.vec_id < 50
    """,
)
def vec_remove_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3f — dominant-component removal (Mu & Viswanath 2018, the
    "all-but-the-top" post-processing): embeddings share a large common
    direction that swamps cosine comparisons; subtracting each vector's
    projection onto the top spectral direction measurably improves
    retrieval. Composes vec_power_iteration_top_pc end-to-end: power
    iteration → L2-unit direction (norm from an exact decimal sum of
    squares, one sqrt) → per-vector projection (exact decimal dot) →
    residual, all on the repo's fixed-point/quantization conventions, so
    the whole three-stage pipeline is ONE oracle-checked query. Emitted
    for a 50-vector sample in long form; the same plan maps over the
    full corpus.

    Scale: the direction is 64 rows (broadcast); the projection and
    residual are map-side expressions over the exploded corpus — one
    aggregate per vector, no extra shuffle beyond the Gram build it
    shares with the power iteration."""
    e = load(spark, sf_dir, "embeddings")
    gram = _gram_collect(_gram_df(e))
    # the exploded form is only needed for the 50-vector output sample
    # now that the Gram is the join-free _gram_df aggregate; the pushed
    # vec_id filter makes both remaining scans trivial
    fixed = _spectral_materialize(
        e.filter(F.col("vec_id") < 50)
        .select("vec_id", F.posexplode("embedding").alias("pos0", "val"))
        .select(
            "vec_id",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.floor(F.col("val").cast("double") * 10000000).alias("v7"),
        )
    )
    # Power iteration + L2-unit normalization on the driver, exact
    # (_pi_rounds_driver contract; r15 — the lazy unrolled DAG planned
    # 288 Exchanges / 7.2 s). n2 = SUM((w*w)::DECIMAL(30,18)) is an
    # exact scale-18 integer sum; the unit division and sqrt are the
    # same IEEE doubles as the Spark expressions they replace.
    w9 = _pi_rounds_driver(gram, [10**9] * 64)
    n2_18 = sum(w * w for w in w9)  # scale 18
    unit = spark.createDataFrame(
        [
            (
                j + 1,
                _round_half_up9(
                    (w / 10**9) / math.sqrt(n2_18 / 10**18)
                ),
            )
            for j, w in enumerate(w9)
        ],
        "j bigint, u decimal(12,9)",
    )
    sample = fixed.filter(F.col("vec_id") < 50)
    proj = (
        sample.join(F.broadcast(unit), sample["pos"] == unit["j"])
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("v7").cast("decimal(19,0)") * F.col("u")).alias("dot7")
        )
    )
    return (
        sample.join(F.broadcast(proj), "vec_id")
        .join(F.broadcast(unit), sample["pos"] == unit["j"])
        .select(
            "vec_id",
            "pos",
            F.round(
                F.col("v7") / 1e7
                - (F.col("dot7").cast("double") / 1e7)
                * F.col("u").cast("double"),
                6,
            ).alias("residual"),
        )
    )


@register(
    "search_hard_negatives",
    oracle=f"""
    WITH qs AS (
        SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.qid, e.vec_id, e.label,
               (SELECT SUM(CAST(e.embedding[g.i] AS DOUBLE)
                           * CAST(q.qvec[g.i] AS DOUBLE))
                FROM GENERATE_SERIES(1, 64) g(i)) AS dot
        FROM embeddings e, qs q
        WHERE e.vec_id <> q.qid AND e.label <> q.qlabel
    )
    SELECT qid, vec_id, label, ROUND(dot, 5) AS score
    FROM (
        SELECT qid, vec_id, label, dot,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY dot DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def search_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-train — HARD-NEGATIVE mining for contrastive training: for each
    query, the most-similar vectors with a DIFFERENT label — the examples
    a retrieval model learns the most from (random negatives are trivial
    to separate; hard negatives define the decision boundary, and mining
    them is a corpus-scale batch job run between training rounds). Same
    one-scan batch shape as simsearch_batch_topk with the label-mismatch
    predicate pushed into the scan side of the scored join, so the
    per-query candidate set shrinks before ranking.

    Exactness via the ordered-fold dot product; top-5 per query carries
    the vec_id tiebreak. At 100 TB the scan dominates, negatives fold per
    query id, and the mined set ships straight into the training
    dataloader."""
    e = load(spark, sf_dir, "embeddings")
    qs = _labelled_queries(e)
    scored = (
        e.crossJoin(qs)
        .filter(
            (F.col("vec_id") != F.col("qid"))
            & (F.col("label") != F.col("qlabel"))
        )
        .withColumn("dot", dot_product("embedding", "qvec"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "label", F.round("dot", 5).alias("score"))
    )


#: Johnson–Lindenstrauss sign-projection geometry: 64-dim float vectors
#: down to 16 dims. Signs come from md5 (hashlib at import time — fully
#: deterministic, no RNG), one ±1 per (output dim j, input dim i).
JL_IN_DIM = 64
JL_OUT_DIM = 16


def _jl_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[0], 16
            ) % 2 == 0
            else -1
            for i in range(JL_IN_DIM)
        ]
        for j in range(JL_OUT_DIM)
    ]


JL_SIGNS = _jl_signs()


def _jl_oracle() -> str:
    """Oracle twin built from the SAME sign matrix: each output dim is an
    explicit left-associative ± chain over double-cast elements, so the
    fold order (and therefore every double) is identical to the Spark
    side's chain by construction."""
    outs = []
    for j in range(JL_OUT_DIM):
        chain = "0.0"
        for i, s in enumerate(JL_SIGNS[j]):
            op = "+" if s > 0 else "-"
            chain += f" {op} e[{i + 1}]"
        outs.append(f"ROUND(({chain}) / 4.0, 5)")
    cols = ",\n           ".join(outs)
    return f"""
    WITH d AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    )
    SELECT vec_id, label, [{cols}] AS proj
    FROM d
    """


@register("vec_random_projection_jl", oracle=_jl_oracle())
def vec_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4j — Johnson–Lindenstrauss random sign projection (Achlioptas
    2003: ±1 entries preserve pairwise distances as well as Gaussian
    ones): y = Sx/√k maps 64-dim embeddings to 16 dims with
    E‖y_a−y_b‖² = ‖x_a−x_b‖², the standard cheap dimensionality cut
    BEFORE expensive ANN indexing or clustering (4× fewer bytes per
    vector shuffled and compared; the distortion bound is what makes
    downstream recall predictable — tests/test_simsearch.py pins it).

    Determinism/exactness: the sign matrix derives from md5 at import
    (no RNG, identical constants embedded in the oracle); each output
    dim folds the ±elements in one left-associative chain over
    double-cast floats on BOTH engines, so every intermediate double is
    bit-identical; √16 = 4 divides exactly; 5dp rounding follows the
    embedding-dot convention.

    Scale: pure per-row map over codegen'd arithmetic — no shuffle, no
    UDF, no collect; at 100 TB this runs at scan speed and cuts every
    downstream vector shuffle by 4×."""
    # The whole 16×64-term ± projection as ONE JVM-parsed SQL expression
    # (the sql_double_array/lsh_table_keys convention): the Column-object
    # chain costs ~4k py4j round trips ≈ 4 s of driver time per build, and
    # an F.get-per-term variant measured 22 s. Flat per-term indexing also
    # drops the transform()-cast array alias whose interpreted HOF re-ran
    # per reference after CollapseProject inlining. The ± chain folds in
    # the same index order over the same double casts, so every
    # intermediate double — and the oracle hash — is unchanged
    # (oracle-verified, r15).
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    outs = []
    for j in range(JL_OUT_DIM):
        chain = "0.0D" + "".join(
            f" {'+' if s > 0 else '-'} CAST(embedding[{i}] AS DOUBLE)"
            for i, s in enumerate(JL_SIGNS[j])
        )
        outs.append(f"round(({chain}) / 4.0D, 5)")
    return e.select(
        "vec_id", "label", F.expr("array(" + ",".join(outs) + ")").alias("proj")
    )


# ---------------------------------------------------------------------------
# H3e — similarity RANGE query (threshold, not top-k)

#: Similarity floor for the range query (≈ the corpus's 99th percentile
#: dot score — selective but non-trivial at every SF).
RANGE_QUERY_TAU = 0.25


@register(
    "simsearch_range_threshold",
    oracle=f"""
    WITH q AS (SELECT embedding AS qvec FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, e.label, ROUND({_DOT_SQL}, 5) AS score
    FROM embeddings e, q
    WHERE e.vec_id <> {QUERY_VEC_ID} AND {_DOT_SQL} >= {RANGE_QUERY_TAU}
    """,
)
def simsearch_range_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3e — similarity RANGE query: every vector scoring ≥ τ against
    the query — the retrieval mode dedup/contamination sweeps actually
    need ("give me EVERYTHING similar enough", where top-k silently
    truncates dense neighborhoods and pads sparse ones). Same broadcast-
    query + ordered-fold dot product as ``simsearch_bruteforce_topk``,
    but the result is filter-defined: no TakeOrdered, no k — output
    cardinality is data-driven, and at 100 TB the scan-heavy plan is
    IVF-prunable exactly like the top-k tiers (score ≥ τ implies the
    query's cell neighborhood under the same geometry).

    τ sits at the corpus's ~99th score percentile, so the result is
    selective (~1%) but non-empty at every SF; both engines evaluate
    the identical fold-ordered double sum against the same literal."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(_query_vector(e))
        .withColumn("score", dot_product("embedding", "qvec"))
        .filter(F.col("score") >= RANGE_QUERY_TAU)
        .select("vec_id", "label", F.round("score", 5).alias("score"))
    )


# ---------------------------------------------------------------------------
# H3f — exact kNN graph (all-pairs, capped demo of the graph-build stage)

#: Vector-id cap bounding the quadratic all-pairs demo (the candidate
#: stage at scale is IVF-cell-blocked — ``simsearch_ivf_topk``'s cell
#: join feeding exactly this rank stage).
KNN_GRAPH_MAX_VEC = 300

#: Neighbors per node in the graph.
KNN_GRAPH_K = 3


@register(
    "vec_knn_graph",
    oracle=f"""
    WITH pool AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id < {KNN_GRAPH_MAX_VEC}
    ),
    scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               (SELECT SUM(CAST(a.embedding[g.i] AS DOUBLE)
                           * CAST(b.embedding[g.i] AS DOUBLE))
                FROM GENERATE_SERIES(1, 64) g(i)) AS score
        FROM pool a JOIN pool b ON b.vec_id <> a.vec_id
    ),
    ranked AS (
        SELECT src, dst, score,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY score DESC, dst) AS rnk
        FROM scored
    )
    SELECT src, dst, CAST(rnk AS BIGINT) AS rnk, ROUND(score, 5) AS score
    FROM ranked WHERE rnk <= {KNN_GRAPH_K}
    """,
)
def vec_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3f — the exact k-nearest-neighbor GRAPH (every node's top-k by
    dot score, ties broken by id): the substrate under SemDeDup-style
    semantic dedup, kNN-graph clustering, and graph-based ANN indexes
    (HNSW's ground-truth layer). All-pairs here (capped pool — the
    honest quadratic demo, like ``neardup_levenshtein``); the at-scale
    composition is RUNNING CODE in :func:`knn_graph_ivf` /
    ``vec_knn_graph_ivf`` (r10) — an IVF-cell-blocked candidate
    equi-join feeding THIS exact per-source rank stage, recall vs this
    graph asserted in tests. Per-source windows partition by src —
    never a global sort; the ordered-fold dot product is the
    engine-wide deterministic convention."""
    pool = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < KNN_GRAPH_MAX_VEC)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    a = pool.select(
        F.col("vec_id").alias("src"), F.col("embedding").alias("ea")
    )
    b = pool.select(
        F.col("vec_id").alias("dst"), F.col("embedding").alias("eb")
    )
    scored = (
        a.join(b, F.col("dst") != F.col("src"))
        .withColumn("score", dot_product("ea", "eb"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_GRAPH_K)
        .select(
            "src",
            "dst",
            F.col("rnk").cast("bigint").alias("rnk"),
            F.round("score", 5).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# H3f' — IVF-cell-blocked kNN graph (the UNCAPPED at-scale variant)

#: Coarse-quantizer anchors for the cell-blocked kNN graph: the
#: N lowest-id corpus vectors (deterministic and SQL-expressible, unlike
#: k-means training — the anchor-sampled coarse quantizer is standard
#: IVF practice when centroids aren't trained yet).
KNN_IVF_ANCHORS = 8

#: Cells each SOURCE probes (its nprobe nearest anchors); destinations
#: live in their single primary cell, so a pair is generated at most
#: once and recall is governed by nprobe/|anchors|.
KNN_IVF_NPROBE = 3


def knn_graph_ivf(
    pool: DataFrame,
    n_anchors: int = KNN_IVF_ANCHORS,
    nprobe: int = KNN_IVF_NPROBE,
    k: int = KNN_GRAPH_K,
) -> DataFrame:
    """(src, dst, rnk, score) — kNN graph with an IVF-cell-blocked
    candidate stage feeding the exact per-source rank stage: the
    at-scale composition ``vec_knn_graph``'s docstring names, as running
    code over an UNCAPPED pool (VERDICT r9 "what's missing" #2). Every
    vector gets a primary cell (nearest anchor by 7-digit-quantized
    squared distance, anchor-id tiebreak); every source probes its
    ``nprobe`` nearest cells; candidates are the cell equi-join (probe
    cells × primary cells — never all-pairs), scored exactly and ranked
    per source. Anchors are the ``n_anchors`` lowest-id vectors —
    deterministic, so the whole graph is oracle-hash-checkable, unlike
    a trained-centroid quantizer. Distances to the (collected,
    broadcast-literal) anchors are FLAT codegen arithmetic — the
    ``pq_encode`` convention — so the assignment pass is one scan.

    Scale: per-cell fan-out is |cell|·nprobe·|cell| bounded by the
    coarse-quantizer granularity (n_anchors scales with √corpus in
    production IVF); the rank windows partition by src. Recall vs the
    exact graph is asserted in tests/test_simsearch.py."""
    scored = ivf_candidates(pool, n_anchors=n_anchors, nprobe=nprobe)
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "src",
            "dst",
            F.col("rnk").cast("bigint").alias("rnk"),
            F.round("score", 5).alias("score"),
        )
    )


def scaled_anchor_count(
    pool_rows: int,
    ref_rows: int,
    ref_anchors: int = KNN_IVF_ANCHORS,
) -> int:
    """The √corpus production dial for the IVF coarse quantizer, as code
    (VERDICT r10 task #3): anchors grow with the square root of the
    corpus, normalized so a reference corpus size keeps its reference
    anchor count. For a FLAT two-level quantizer this is the balanced
    optimum, not a linearizer: graph-build work = n·anchors (assignment)
    + nprobe·n²/anchors (candidate scoring) is minimized at anchors ∝
    √n, where BOTH terms — and the candidate-pair count — grow as
    Θ(n^1.5). Measured at a genuine 10× corpus (key-shifted copies, by a
    scale-up script in ``tools/`` up to commit ced5246):
    candidates ×32 ≈ 10^1.5, exactly the theory line, vs ~×100 for the
    r10 fixed-anchor caveat. Making candidates truly LINEAR needs
    constant-size cells (anchors ∝ n), which a flat quantizer can't
    afford (the assignment scan itself turns quadratic) — that tier is a
    hierarchical/trained coarse quantizer, named here as the boundary of
    this operator's design."""
    if pool_rows <= 0 or ref_rows <= 0:
        raise ValueError("row counts must be positive")
    return max(1, round(ref_anchors * math.sqrt(pool_rows / ref_rows)))


def ivf_candidates(
    pool: DataFrame,
    n_anchors: int = KNN_IVF_ANCHORS,
    nprobe: int = KNN_IVF_NPROBE,
) -> DataFrame:
    """(src, dst, score, ...) — the IVF-cell-blocked candidate stage of
    :func:`knn_graph_ivf`, exposed so scale tests can count candidate
    pairs directly (the quantity the √corpus anchor dial is supposed to
    keep linear)."""
    anchors = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in pool.orderBy("vec_id").limit(n_anchors).collect()
    ]
    # one JVM-parsed SQL expression: the anchors×dim Column-object build
    # cost ~10k py4j round trips ≈ 5 s of driver time (r15); the parsed
    # tree — flat distances, 1e7 floor quantization, (d7, aid) sort — is
    # identical, so cells and candidates are unchanged.
    cells = F.expr(
        "sort_array(array("
        + ",".join(
            "named_struct('d7', CAST(FLOOR(("
            + _sq_dist_flat_sql("embedding", 0, avec)
            + f") * 10000000) AS BIGINT), 'aid', CAST({aid} AS BIGINT))"
            for aid, avec in anchors
        )
        + "))"
    )
    # One assignment scan feeds both join sides. Materialized via the
    # lineage-PRESERVING disk persist, not an eager localCheckpoint:
    # this frame is full-corpus — the largest exposure to the r10
    # flake class (evicted checkpoint blocks in long single-JVM
    # sessions become unrecoverable Py4JJavaErrors; ADVICE r10 #3).
    # spread: the assignment + the downstream candidate scoring otherwise
    # run in the single task a small one-split scan yields
    assigned = _spectral_materialize(
        spread(pool).select(
            "vec_id",
            "embedding",
            F.element_at(cells, 1)["aid"].alias("cell"),
            F.transform(
                F.slice(cells, 1, nprobe), lambda s: s["aid"]
            ).alias("probes"),
        )
    )
    src = assigned.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.explode("probes").alias("pcell"),
    )
    dst = assigned.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("cell").alias("pcell"),
    )
    return (
        src.join(dst, "pcell")
        .filter(F.col("dst") != F.col("src"))
        .withColumn("score", dot_product("ea", "eb"))
    )


@register(
    "vec_knn_graph_ivf",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS aid, embedding AS avec FROM embeddings
        ORDER BY vec_id LIMIT {KNN_IVF_ANCHORS}
    ),
    ad AS (
        SELECT e.vec_id, a.aid, e.embedding,
               CAST(FLOOR(list_sum(list_transform(range(1, 65), i ->
                   (CAST(e.embedding[i] AS DOUBLE)
                    - CAST(a.avec[i] AS DOUBLE))
                   * (CAST(e.embedding[i] AS DOUBLE)
                      - CAST(a.avec[i] AS DOUBLE))))
                 * 10000000) AS BIGINT) AS d7
        FROM embeddings e CROSS JOIN anchors a
    ),
    rnked AS (
        SELECT vec_id, aid, embedding,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d7, aid) AS rn
        FROM ad
    ),
    prim AS (SELECT vec_id, embedding, aid AS cell FROM rnked WHERE rn = 1),
    probes AS (
        SELECT vec_id, embedding, aid AS cell FROM rnked
        WHERE rn <= {KNN_IVF_NPROBE}
    ),
    cand AS (
        SELECT p.vec_id AS src, q.vec_id AS dst,
               list_sum(list_transform(range(1, 65), i ->
                   CAST(p.embedding[i] AS DOUBLE)
                   * CAST(q.embedding[i] AS DOUBLE))) AS score
        FROM probes p JOIN prim q
          ON q.cell = p.cell AND q.vec_id <> p.vec_id
    ),
    ranked AS (
        SELECT src, dst, score,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY score DESC, dst) AS rnk
        FROM cand
    )
    SELECT src, dst, CAST(rnk AS BIGINT) AS rnk, ROUND(score, 5) AS score
    FROM ranked WHERE rnk <= {KNN_GRAPH_K}
    """,
)
def vec_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3f' — the kNN graph over the FULL embeddings table (no fixture
    cap — the r9 verdict's "a real user hits this the first time they
    ask for a kNN graph over more than a toy pool") with the IVF-cell
    candidate stage: see :func:`knn_graph_ivf`. Oracle-hash-checked
    end-to-end because the anchor quantizer is deterministic."""
    return knn_graph_ivf(
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )


# ---------------------------------------------------------------------------
# H3g — exact silhouette score of a cluster assignment

#: Pool cap for the quadratic silhouette demo (same rationale/mechanics
#: as KNN_GRAPH_MAX_VEC; the at-scale variant samples the pool).
SIL_MAX_VEC = 300

#: Deterministic md5-uniform sample threshold for the at-scale variant:
#: first 4 hex digits of md5(vec_id) < 0x4000 keeps ~1/4 of the corpus
#: (the ``mixture_temperature_resample`` selection precedent — stable
#: under reruns and incremental ingestion, identical on both engines).
SIL_SAMPLE_HEX = "4000"


def silhouette_sample_hex(
    pool_rows: int, target_rows: int, digits: int = 4
) -> str | None:
    """The target-COUNT form of the silhouette sample dial (VERDICT r10
    task #3): compute the md5-prefix hex threshold that keeps
    ~``target_rows`` of a ``pool_rows`` corpus — the md5 machinery is
    unchanged (``substr(md5(id), 1, digits) < threshold``), only the
    threshold is derived from an absolute size instead of a fixed
    fraction, so at 10× the corpus the sampled all-pairs stage stays the
    SAME absolute cost. Returns None when the target covers the whole
    pool (no filter needed). Granularity is 16**-digits of the pool;
    membership is deterministic per id, so reruns and incremental
    ingestion see a stable sample."""
    if pool_rows <= 0:
        raise ValueError("pool_rows must be positive")
    if target_rows <= 0:
        raise ValueError("target_rows must be positive")
    if target_rows >= pool_rows:
        return None
    space = 16**digits
    cut = max(1, round(space * target_rows / pool_rows))
    if cut >= space:
        return None
    return format(cut, f"0{digits}x")


def _silhouette_sql(pool_where: str) -> str:
    """Shared DuckDB oracle for the exact-silhouette family, over the
    pool selected by ``pool_where``."""
    return f"""
    WITH pool AS (
        SELECT vec_id, label, embedding FROM embeddings
        WHERE {pool_where}
    ),
    pd AS (
        SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
               CAST(FLOOR((SELECT SUM(
                   (CAST(a.embedding[g.i] AS DOUBLE)
                    - CAST(b.embedding[g.i] AS DOUBLE))
                   * (CAST(a.embedding[g.i] AS DOUBLE)
                      - CAST(b.embedding[g.i] AS DOUBLE)))
                 FROM GENERATE_SERIES(1, 64) g(i)) * 10000000) AS BIGINT)
                   AS d7
        FROM pool a JOIN pool b ON b.vec_id <> a.vec_id
    ),
    per AS (
        SELECT i, li, lj, CAST(SUM(d7) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pd GROUP BY 1, 2, 3
    ),
    ab AS (
        SELECT i, li,
               MAX(CASE WHEN lj = li
                        THEN CAST(s AS DOUBLE) / n END) AS a_mean,
               MIN(CASE WHEN lj <> li
                        THEN CAST(s AS DOUBLE) / n END) AS b_mean
        FROM per GROUP BY 1, 2
    )
    SELECT i AS vec_id, li AS label,
           ROUND(a_mean / 1e7, 6) AS a_intra,
           ROUND(b_mean / 1e7, 6) AS b_inter,
           CASE WHEN a_mean IS NULL THEN 0.0
                ELSE ROUND((b_mean - a_mean)
                           / GREATEST(a_mean, b_mean), 6) END AS silhouette
    FROM ab
    """


@register(
    "vec_cluster_silhouette",
    oracle=_silhouette_sql(f"vec_id < {SIL_MAX_VEC}"),
)
def vec_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3g — EXACT silhouette coefficient (Rousseeuw 1987) of the
    embeddings' cluster assignment: per vector, a = mean squared
    distance to its own cluster, b = the closest other cluster's mean,
    s = (b−a)/max(a,b) ∈ [−1, 1] — the standard "is this clustering
    real" score, the evaluation step for every clustering operator in
    this engine (k-means, semantic cells, IVF cells). Pairwise squared
    distances are quantized to 7-digit fixed point and summed as exact
    integers per (vector, cluster) — the engine-wide dsum rule — so the
    two mean divisions and the final ratio are single IEEE expressions
    over identical integers in both engines.

    All-pairs over the capped pool (the ``vec_knn_graph`` demo
    rationale); at scale, silhouette is computed on a uniform sample
    with exactly this plan. Singleton clusters emit s = 0 per the
    original paper's convention."""
    pool = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < SIL_MAX_VEC
    )
    return cluster_silhouette(pool)


def cluster_silhouette(pool: DataFrame) -> DataFrame:
    """(vec_id, label, a_intra, b_inter, silhouette) — the exact
    silhouette engine behind ``vec_cluster_silhouette`` (capped demo)
    and ``vec_cluster_silhouette_sampled`` (deterministic-sample,
    at-scale entry point). All-pairs within whatever pool the caller
    hands in — the CALLER bounds the pool (fixture cap or sample)."""
    pool = pool.select("vec_id", "label", "embedding").localCheckpoint(
        eager=True
    )
    a = pool.select(
        F.col("vec_id").alias("i"),
        F.col("label").alias("li"),
        F.col("embedding").alias("ea"),
    )
    b = pool.select(
        F.col("vec_id").alias("j"),
        F.col("label").alias("lj"),
        F.col("embedding").alias("eb"),
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pd = (
        a.join(b, F.col("j") != F.col("i"))
        .withColumn("d7", F.floor(diff2 * 10000000).cast("bigint"))
    )
    per = pd.groupBy("i", "li", "lj").agg(
        F.sum("d7").alias("s"), F.count(F.lit(1)).alias("n")
    )
    mean = F.col("s").cast("double") / F.col("n")
    ab = per.groupBy("i", "li").agg(
        F.max(F.when(F.col("lj") == F.col("li"), mean)).alias("a_mean"),
        F.min(F.when(F.col("lj") != F.col("li"), mean)).alias("b_mean"),
    )
    return ab.select(
        F.col("i").alias("vec_id"),
        F.col("li").alias("label"),
        F.round(F.col("a_mean") / 1e7, 6).alias("a_intra"),
        F.round(F.col("b_mean") / 1e7, 6).alias("b_inter"),
        F.when(F.col("a_mean").isNull(), F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("b_mean") - F.col("a_mean"))
                / F.greatest(F.col("a_mean"), F.col("b_mean")),
                6,
            )
        )
        .alias("silhouette"),
    )


@register(
    "vec_cluster_silhouette_sampled",
    oracle=_silhouette_sql(
        f"SUBSTR(MD5(CAST(vec_id AS VARCHAR)), 1, 4) < '{SIL_SAMPLE_HEX}'"
    ),
)
def vec_cluster_silhouette_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H3g' — silhouette over a DETERMINISTIC ~25% md5-uniform sample of
    the FULL embeddings table (no fixture id cap — the at-scale entry
    point VERDICT r9 asked for, "what's missing" #2): at corpus scale
    the exact all-pairs silhouette is quadratic, and the standard answer
    is silhouette-on-a-sample; the sample here is the engine's
    ``mixture_temperature_resample`` md5 trick (substr of the id hash
    against a hex threshold), so membership is stable under reruns and
    incremental ingestion and the WHOLE sampled computation stays
    oracle-hash-checkable — unlike an RNG ``.sample()``. The silhouette
    arithmetic is byte-identical to ``vec_cluster_silhouette``
    (:func:`cluster_silhouette` — exact fixed-point pair sums)."""
    pool = load(spark, sf_dir, "embeddings").filter(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 4)
        < F.lit(SIL_SAMPLE_HEX)
    )
    return cluster_silhouette(pool)


# ---------------------------------------------------------------------------
# H3e' — top-2 principal directions (orthogonalized power iteration)


def _pi2_round_sql(win: str, wout: str, v1: str) -> str:
    """One exact SECOND-direction power-iteration round: the _pi_round_sql
    mat-vec + max-abs normalization, then Gram-Schmidt re-orthogonalization
    against the (quantized, fixed) first direction ``v1`` — coefficient
    c = <w, v1>/<v1, v1> from exact DECIMAL(25,18) product sums, rounded
    to 12 decimals, applied through one fixed IEEE sequence, re-quantized
    to 9 decimals. Orthogonalizing EVERY round (rather than deflating the
    Gram matrix) keeps all intermediates inside the engine's proven
    decimal scales — a deflated matrix would need ~1e35 integer products
    where Spark's and DuckDB's decimal overflow rules diverge."""
    return f"""
    {wout}_y AS (
        SELECT g.i AS pos,
               SUM(CAST(g.m AS DECIMAL(19,0)) * w.w) AS y
        FROM gram g JOIN {win} w ON w.j = g.j
        GROUP BY g.i
    ),
    {wout}_m AS (SELECT MAX(ABS(y)) AS mx FROM {wout}_y),
    {wout}_n AS (
        SELECT pos AS j,
               CAST(ROUND(CAST(y AS DOUBLE) / CAST(mx AS DOUBLE), 9)
                    AS DECIMAL(12,9)) AS w
        FROM {wout}_y, {wout}_m
    ),
    {wout}_c AS (
        SELECT ROUND(CAST(SUM(n.w * v.w) AS DOUBLE)
                     / (SELECT CAST(SUM(v2.w * v2.w) AS DOUBLE)
                        FROM {v1} v2), 12) AS c
        FROM {wout}_n n JOIN {v1} v ON v.j = n.j
    ),
    {wout} AS (
        SELECT n.j,
               CAST(ROUND(CAST(n.w AS DOUBLE)
                          - c.c * CAST(v.w AS DOUBLE), 9)
                    AS DECIMAL(12,9)) AS w
        FROM {wout}_n n JOIN {v1} v ON v.j = n.j CROSS JOIN {wout}_c c
    )"""


_TOP2_SQL = (
    _PI_ROUNDS_DUCK
    + """,
    u0 AS (
        SELECT r.range AS j,
               CAST(CASE WHEN r.range % 2 = 1 THEN 1.0 ELSE -1.0 END
                    AS DECIMAL(12,9)) AS w
        FROM RANGE(1, 65) r
    ),
    """
    + ",".join(
        _pi2_round_sql(f"u{i}", f"u{i+1}", f"w{PI_ROUNDS}")
        for i in range(PI_ROUNDS)
    )
    + f"""
    SELECT 1 AS pc, j AS pos, w AS direction FROM w{PI_ROUNDS}
    UNION ALL
    SELECT 2, j, w FROM u{PI_ROUNDS}
    """
    # MATERIALIZED: gram and the first direction are each referenced by
    # every subsequent round's CTEs; DuckDB re-inlines multi-referenced
    # CTEs by default, re-building the Gram join per reference — measured
    # 63 s -> 0.48 s at sf0.01 with these two hints.
).replace("gram AS (", "gram AS MATERIALIZED (").replace(
    f"w{PI_ROUNDS} AS (", f"w{PI_ROUNDS} AS MATERIALIZED ("
)


@register("vec_top2_pcs", oracle=_TOP2_SQL)
def vec_top2_pcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3e' — the TOP TWO principal directions of the embedding Gram
    matrix, oracle-checked end-to-end: PC1 is ``vec_power_iteration_
    top_pc``'s exact quantized power iteration verbatim; PC2 runs the
    same iteration from an alternating ±1 seed with a Gram-Schmidt
    re-orthogonalization against the FIXED quantized PC1 every round —
    the deflation-free way to the second eigenvector, chosen because it
    keeps every intermediate inside the engine's proven decimal scales
    (see ``_pi2_round_sql``). Two directions are what a whitening /
    2-D-projection stage actually consumes (PCA scatter plots, the
    ABTT-style top-k component removal with k = 2).

    Exactness: mat-vec and normalization per the PC1 contract;
    the orthogonalization coefficient is a 12-decimal-rounded ratio of
    exact DECIMAL(25,18) product sums; the subtraction is one fixed
    IEEE sequence re-quantized to 9 decimals. Near-orthogonality of the
    emitted pair (|cos| ≈ 0 up to quantization) is pinned in pytest.

    Scale: identical to the PC1 query — the Gram build is the only
    corpus-sized stage (one self-join keyed by row id, dim² output);
    both iterations run on 64-row broadcast-sized frames."""
    e = load(spark, sf_dir, "embeddings")
    gram = _gram_collect(_gram_df(e))
    # Both iterations on the driver, exact (_pi_rounds_driver contract;
    # r15 — the previous per-round collect+re-literal jobs spent ~1 s of
    # stage latency per 64-row round, 10 s build). The Gram–Schmidt
    # coefficient c replicates ROUND(num::double / den, 12) — num is an
    # exact scale-18 integer sum, den an exact scale-18 sum cast to
    # double, ROUND-on-double has no decimal cast so c stays the double
    # Spark multiplies with; the re-orthogonalized component re-rounds
    # at scale 9 like every direction component.
    v1_9 = _pi_rounds_driver(gram, [10**9] * 64)
    den = sum(w * w for w in v1_9) / 10**18
    u9 = [10**9 if (j + 1) % 2 == 1 else -(10**9) for j in range(64)]
    for _ in range(PI_ROUNDS):
        n9 = _pi_step_driver(gram, u9)
        num_18 = sum(n * v for n, v in zip(n9, v1_9))
        c = float(_round_half_up9((num_18 / 10**18) / den, scale=12))
        u9 = [
            int(
                _round_half_up9(
                    (n / 10**9) - c * (v / 10**9)
                ).scaleb(9)
            )
            for n, v in zip(n9, v1_9)
        ]
    return spark.createDataFrame(
        [(1, j + 1, Decimal(w).scaleb(-9)) for j, w in enumerate(v1_9)]
        + [(2, j + 1, Decimal(w).scaleb(-9)) for j, w in enumerate(u9)],
        "pc int, pos bigint, direction decimal(12,9)",
    )


#: Shared oracle CTEs for the nearest-centroid family: fixed-point
#: elements, integer-quantized per-label centroids, exact BIGINT
#: distances, and the label-asc argmin pick. ``vec_nearest_centroid_assign``
#: appends the confusion roll-up; ``eval_cohens_kappa`` appends the
#: chance-corrected agreement computation.
_NCA_CTES = """
    WITH fixed AS (
        SELECT vec_id, label AS true_label, r.range AS pos,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 10000000) AS BIGINT) AS v7
        FROM embeddings, RANGE(1, 65) r
    ),
    cent AS (
        SELECT true_label AS clabel, pos,
               CAST(FLOOR(CAST(SUM(v7) AS DOUBLE) / COUNT(*)) AS BIGINT)
                 AS c7
        FROM fixed GROUP BY 1, 2
    ),
    d2 AS (
        SELECT f.vec_id, f.true_label, c.clabel,
               CAST(SUM((f.v7 - c.c7) * (f.v7 - c.c7)) AS BIGINT) AS dist
        FROM fixed f JOIN cent c ON c.pos = f.pos
        GROUP BY 1, 2, 3
    ),
    pick AS (
        SELECT vec_id, true_label, clabel,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY dist, clabel
               ) AS rn
        FROM d2
    )
"""


@register(
    "vec_nearest_centroid_assign",
    oracle=_NCA_CTES
    + """
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(clabel AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pick WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def vec_nearest_centroid_assign(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H3b' — nearest-centroid classification audit: assign every vector
    to its closest per-label centroid (Rocchio / nearest-class-mean, the
    one-pass classifier embedding pipelines use to sanity-check label
    quality) and emit the confusion matrix (true_label, pred_label, n).
    Exactness machinery: elements fixed-point to v7 BIGINTs (the
    ``vec_centroid_per_label`` rule), centroids quantized once to integer
    c7 = floor(sum/count) through a single double division (correctly
    rounded, identical both engines), distances as pure BIGINT
    sums-of-squares, argmin with a label-asc tiebreak.

    Scale shape: ALL-distributed — posexplode to (vec, dim, v7), one
    (label, dim)-keyed centroid aggregate, a broadcast join on dim
    fanning each element to |labels| candidates, a map-side-combined
    (vec, label) distance roll-up, a per-vec argmin window over |labels|
    rows, and a |labels|² confusion roll-up. No driver collect, no
    all-pairs; with 10³ labels the fan-out stage switches to the
    flat-literal codegen distances (``pq_encode`` convention) — the
    dial is explicit, the default favors zero driver state. (The
    ``nearest_centroid_confusion`` library form the Engine facade
    exposes.)"""
    return nearest_centroid_confusion(load(spark, sf_dir, "embeddings"))


def nearest_centroid_confusion(
    df: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(true_label, pred_label, n) nearest-centroid confusion matrix of
    an arbitrary (id, label, vector) frame — the library form the Engine
    facade exposes; ``vec_nearest_centroid_assign`` is its registered
    oracle-checked instance (facade-parity single-source rule)."""
    fixed = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).cast("bigint").alias("true_label"),
        F.posexplode(vec_col).alias("pos0", "val"),
    ).select(
        "vec_id",
        "true_label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 10000000).alias("v7"),
    )
    cent = fixed.groupBy(
        F.col("true_label").alias("clabel"), "pos"
    ).agg(
        F.floor(F.sum("v7").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("c7")
    )
    diff = F.col("v7") - F.col("c7")
    d2 = (
        fixed.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "true_label", "clabel")
        .agg(F.sum(diff * diff).cast("bigint").alias("dist"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "clabel")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_label", F.col("clabel").alias("pred_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "eval_cohens_kappa",
    oracle=_NCA_CTES
    + """
    , conf AS (
        SELECT true_label AS t, clabel AS p, CAST(COUNT(*) AS BIGINT) AS c
        FROM pick WHERE rn = 1
        GROUP BY 1, 2
    ),
    marg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN t = p THEN c ELSE 0 END) AS BIGINT)
                 AS diag
        FROM conf
    ),
    chance AS (
        SELECT SUM(CAST(rc.r AS HUGEINT) * pc.p) AS rc
        FROM (SELECT t AS l, CAST(SUM(c) AS BIGINT) AS r
              FROM conf GROUP BY t) rc
        JOIN (SELECT p AS l, CAST(SUM(c) AS BIGINT) AS p
              FROM conf GROUP BY p) pc ON pc.l = rc.l
    )
    SELECT m.n, m.diag,
           ROUND(CAST(m.n AS DOUBLE) * CAST(m.diag AS DOUBLE)
                 / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)), 6)
             AS observed_agreement,
           ROUND((CAST(m.n AS DOUBLE) * CAST(m.diag AS DOUBLE)
                  - CAST(c.rc AS DOUBLE))
                 / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)
                    - CAST(c.rc AS DOUBLE)), 6) AS kappa
    FROM marg m CROSS JOIN chance c
    """,
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV — Cohen's kappa of the nearest-centroid classifier against the
    true labels: chance-corrected agreement κ = (p_o − p_e)/(1 − p_e),
    the label-quality metric annotation pipelines report where raw
    accuracy misleads (a 10-class 37%-accurate classifier is far above
    its ~11% chance line; κ makes that one number). Computed entirely in
    integers from the ``vec_nearest_centroid_assign`` confusion matrix:
    with diag = Σ agreements and rc = Σ_l row_l·col_l, κ = (n·diag −
    rc)/(n² − rc) — one double division at the end, no float sums to
    drift (labels here are the two "raters": truth vs centroid).

    Scale shape: everything through the confusion matrix is the assign
    query's plan; kappa adds |labels|-row marginal aggregates and a
    1×1 cross join. The pattern generalizes to any two categorical
    columns — truth vs any model's prediction column (the
    ``cohens_kappa`` library form the Engine facade exposes)."""
    # materialize the |labels|²-row confusion grid once (r15): the
    # library form consumes it through several lazy marginal branches,
    # each otherwise re-planning the whole centroid-assign pipeline
    return cohens_kappa(
        vec_nearest_centroid_assign(spark, sf_dir).localCheckpoint(
            eager=True
        )
    )


def cohens_kappa(conf: DataFrame) -> DataFrame:
    """(n, diag, observed_agreement, kappa) Cohen's kappa over a
    (true_label, pred_label, n) confusion-count frame — the library form
    the Engine facade exposes; ``eval_cohens_kappa`` is its registered
    oracle-checked instance (facade-parity single-source rule)."""
    marg = conf.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("true_label") == F.col("pred_label"), F.col("n"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("diag"),
    )
    rows = conf.groupBy(F.col("true_label").alias("l")).agg(
        F.sum("n").cast("bigint").alias("r")
    )
    cols = conf.groupBy(F.col("pred_label").alias("l")).agg(
        F.sum("n").cast("bigint").alias("p")
    )
    # the inner join IS exact for rc = Σ_l r_l·p_l: a label absent from
    # either marginal has r_l·p_l = 0 (contrast MCC's Σt_k²/Σp_k², which
    # must come from each marginal alone — ADVICE r11 #1)
    # rc = Σ r_l·p_l is O(n²/|labels|) — DECIMAL(38,0) per the r12
    # overflow-headroom audit (oracle: HUGEINT); linear marginals stay
    # BIGINT.
    chance = (
        rows.join(cols, "l")
        .agg(
            F.coalesce(
                F.sum(F.col("r").cast("decimal(38,0)") * F.col("p")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("rc")
        )
    )
    nd = F.col("n").cast("double")
    diagd = F.col("diag").cast("double")
    rcd = F.col("rc").cast("double")
    return marg.crossJoin(F.broadcast(chance)).select(
        "n",
        "diag",
        F.round(nd * diagd / (nd * nd), 6).alias("observed_agreement"),
        # all mass in one (true, pred) cell ⇒ chance agreement p_e = 1
        # ⇒ κ denominator n² − rc is exactly 0 — undefined; ANSI Spark
        # threw where DuckDB returns NULL (r15 ANSI sweep)
        F.when(nd * nd - rcd == 0, F.lit(None).cast("double"))
        .otherwise(F.round((nd * diagd - rcd) / (nd * nd - rcd), 6))
        .alias("kappa"),
    )


@register(
    "eval_mcc_multiclass",
    oracle=_NCA_CTES
    + """
    , conf AS (
        SELECT true_label AS t, clabel AS p, CAST(COUNT(*) AS BIGINT) AS c
        FROM pick WHERE rn = 1
        GROUP BY 1, 2
    ),
    marg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN t = p THEN c ELSE 0 END) AS BIGINT)
                 AS corr
        FROM conf
    ),
    tr AS (
        SELECT t AS l, CAST(SUM(c) AS BIGINT) AS tk FROM conf GROUP BY t
    ),
    pr AS (
        SELECT p AS l, CAST(SUM(c) AS BIGINT) AS pk FROM conf GROUP BY p
    ),
    pt AS (
        SELECT
            COALESCE((SELECT SUM(CAST(tr2.tk AS HUGEINT) * pr2.pk)
                      FROM tr tr2 JOIN pr pr2 ON pr2.l = tr2.l),
                     0) AS sum_pt,
            (SELECT SUM(CAST(tk AS HUGEINT) * tk) FROM tr) AS sum_tt,
            (SELECT SUM(CAST(pk AS HUGEINT) * pk) FROM pr) AS sum_pp
    )
    SELECT m.s AS n, m.corr,
           ROUND((CAST(m.corr AS DOUBLE) * m.s - CAST(p.sum_pt AS DOUBLE))
                 / (SQRT(CAST(m.s AS DOUBLE) * m.s
                         - CAST(p.sum_pp AS DOUBLE))
                    * SQRT(CAST(m.s AS DOUBLE) * m.s
                           - CAST(p.sum_tt AS DOUBLE))), 6) AS mcc
    FROM marg m CROSS JOIN pt p
    """,
)
def eval_mcc_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EV' — multiclass Matthews correlation (the Gorodkin R_K statistic)
    of the nearest-centroid classifier: MCC = (c·s − Σ_k p_k·t_k) /
    (sqrt(s² − Σ p_k²)·sqrt(s² − Σ t_k²)) over the confusion matrix —
    the class-imbalance-robust single number that accuracy and even
    kappa distort on skewed label sets (MCC = 0 for any trivial
    constant classifier regardless of imbalance). Entirely integer
    numerators from the ``vec_nearest_centroid_assign`` confusion
    matrix; two separate SQRTs (their argument product overflows int64
    at corpus scale) through the same IEEE tree both engines.

    NOTE on the marginals: Σt_k² and Σp_k² are computed from each
    marginal ALONE — a class that is never predicted still carries its
    t_k² term (and vice versa), so an inner join would under-count
    those sums on skewed label sets. Only Σp_k·t_k goes through the
    label join, where a class absent from either side genuinely
    contributes zero.

    Scale shape: the assign query's plan + |labels|-row marginal
    aggregates + a 1-row cross join — the ``eval_cohens_kappa`` shape
    with one more moment (the ``mcc_multiclass`` library form the
    Engine facade exposes)."""
    # materialize the confusion grid once (r15) — the lazy form
    # re-planned the centroid-assign pipeline through marg/tr/pr
    # (56 Exchanges in one plan)
    return mcc_multiclass(
        vec_nearest_centroid_assign(spark, sf_dir).localCheckpoint(
            eager=True
        )
    )


def mcc_multiclass(conf: DataFrame) -> DataFrame:
    """(n, corr, mcc) Gorodkin R_K over a (true_label, pred_label, n)
    confusion-count frame — the library form the Engine facade exposes;
    ``eval_mcc_multiclass`` is its registered oracle-checked instance
    (facade-parity single-source rule). Σt_k² / Σp_k² come from each
    marginal ALONE so never-predicted (or never-true) classes keep
    their squared terms (ADVICE r11 #1)."""
    marg = conf.agg(
        F.sum("n").cast("bigint").alias("s"),
        F.sum(
            F.when(F.col("true_label") == F.col("pred_label"), F.col("n"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("corr"),
    )
    tr = conf.groupBy(F.col("true_label").alias("l")).agg(
        F.sum("n").cast("bigint").alias("tk")
    )
    pr = conf.groupBy(F.col("pred_label").alias("l")).agg(
        F.sum("n").cast("bigint").alias("pk")
    )
    # Σt_k², Σp_k², Σt_k·p_k are O(n²/|labels|) — DECIMAL(38,0) per the
    # r12 overflow-headroom audit (oracle: HUGEINT); the marginals
    # themselves stay BIGINT.
    tt = tr.agg(
        F.sum(F.col("tk").cast("decimal(38,0)") * F.col("tk")).alias(
            "sum_tt"
        )
    )
    pp = pr.agg(
        F.sum(F.col("pk").cast("decimal(38,0)") * F.col("pk")).alias(
            "sum_pp"
        )
    )
    pt = (
        tr.join(pr, "l")
        .agg(
            F.coalesce(
                F.sum(F.col("tk").cast("decimal(38,0)") * F.col("pk")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("sum_pt")
        )
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(pp))
    )
    sd = F.col("s").cast("double")
    dent = sd * F.col("s") - F.col("sum_tt").cast("double")
    denp = sd * F.col("s") - F.col("sum_pp").cast("double")
    mcc = (
        F.col("corr").cast("double") * F.col("s")
        - F.col("sum_pt").cast("double")
    ) / (F.sqrt(denp) * F.sqrt(dent))
    # one-class margin on either side (all true labels equal, or all
    # predictions equal) ⇒ s² = Σt² or Σp² ⇒ a zero factor — MCC is
    # undefined (sklearn returns 0 with a warning; NULL is this
    # engine's honest convention); ANSI Spark threw here (r15 sweep)
    return marg.crossJoin(F.broadcast(pt)).select(
        F.col("s").alias("n"),
        "corr",
        F.when((dent == 0) | (denp == 0), F.lit(None).cast("double"))
        .otherwise(F.round(mcc, 6))
        .alias("mcc"),
    )


# ---------------------------------------------------------------------------
# Per-dimension variance screening (round 12)

#: How many top-variance dimensions the registered instance reports.
DIM_VAR_TOPK = 8


@register(
    "vec_dim_variance_topk",
    oracle=f"""
    WITH fixed AS (
        SELECT r.range AS pos,
               CAST(FLOOR(CAST(embedding[CAST(r.range AS INT)] AS DOUBLE)
                          * 10000000) AS BIGINT) AS v7
        FROM embeddings, RANGE(1, 65) r
    ),
    m AS (
        SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v7) AS BIGINT) AS s1,
               SUM(CAST(v7 AS HUGEINT) * v7) AS s2
        FROM fixed GROUP BY pos
    )
    SELECT CAST(pos AS BIGINT) AS pos, n,
           ROUND((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * n) / 1e14, 9) AS variance
    FROM m
    ORDER BY variance DESC, pos
    LIMIT {DIM_VAR_TOPK}
    """,
)
def vec_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VS — the top-{{k}} embedding dimensions by exact population
    variance: the dead-dimension / dominant-dimension screen run before
    any whitening, PQ codebook split, or matryoshka truncation decision
    (a dimension with near-zero variance carries no information; one
    with outsized variance dominates L2 distances). Elements go through
    the engine's standard v7 fixed-point (``vec_centroid_per_label``
    rule): per-dimension Σv and Σv² are exact integers — Σv² in
    DECIMAL(38,0)/HUGEINT per the r12 overflow-headroom rule (v7² ≈
    10^14 per element; int64 dies at ~10^4.9 vectors) — and variance =
    (n·Σv² − (Σv)²)/n² descales by 1e14 through one fixed IEEE tree.
    Deterministic top-k: ORDER BY variance DESC, pos.

    Scale shape: posexplode → ONE (pos)-keyed map-side-combined moment
    aggregate (64 rows out) → a 64-row TakeOrdered. A 100 TB corpus is
    one scan; nothing downstream exceeds the dimensionality. (The
    ``dim_variance`` library form the Engine facade exposes.)"""
    return dim_variance(load(spark, sf_dir, "embeddings")).orderBy(
        F.col("variance").desc(), "pos"
    ).limit(DIM_VAR_TOPK)


def dim_variance(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(pos, n, variance) exact per-dimension population variance of a
    vector column (v7 fixed-point) — the library form the Engine facade
    exposes; ``vec_dim_variance_topk`` is its registered oracle-checked
    instance (facade-parity single-source rule). Order and limit the
    result for a top-k screen."""
    fixed = df.select(
        F.posexplode(vec_col).alias("pos0", "val")
    ).select(
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.floor(F.col("val").cast("double") * 10000000).alias("v7"),
    )
    m = fixed.groupBy("pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v7").cast("bigint").alias("s1"),
        F.sum(F.col("v7").cast("decimal(38,0)") * F.col("v7")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    var = (
        (nd * F.col("s2").cast("double")
         - F.col("s1").cast("double") * F.col("s1").cast("double"))
        / (nd * F.col("n"))
        / 1e14
    )
    return m.select("pos", "n", F.round(var, 9).alias("variance"))
