"""Group H (dedup) — document deduplication operators (SURVEY.md §2 H1/H2).

Five dedup flavors, each designed shuffle-first for 100 TB corpora:

  * exact       — normalize → hash → keep min-id per group (one shuffle);
  * minhash-LSH — shingle → per-row minhash signature (NO shuffle) → band
                  explode → bucket self-join (candidate pairs only within
                  equal band hashes, never all-pairs) → signature-similarity
                  filter → iterative min-label propagation for clusters;
  * simhash     — per-row 64-bit fingerprint via higher-order functions,
                  grouped on the fingerprint (hamming-0 buckets);
  * jaccard     — token-set similarity via an inverted-index join (pairs are
                  generated per shared token, not per doc pair);
  * embedding   — cosine near-dup pairs (exact form here; the LSH-bucketed
                  scale path lives in operators/simsearch.py).

All heavy lifting is JVM-side higher-order functions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.operators.capping import (
    capped_group,
    oversized_groups,
)
from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import load, spread

# ---------------------------------------------------------------------------
# H1 — exact dedup


def normalized_text_key(text_col: str | Column = "text") -> Column:
    """THE canonical exact-dedup group key: sha2-256 of lowercased, trimmed
    text. Single definition shared by the oracle-checked operator and the
    Engine facade so the normalization rule can never drift between them.
    32-byte keys shuffle instead of document bodies."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.sha2(F.lower(F.trim(c)), 256)


def keep_first_per_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Drop exact duplicates, keeping the lowest-id row per normalized-text
    group (deterministic winner). Shared by the oracle-checked
    ``dedup_exact`` operator and ``Engine.dedup_exact``."""
    w = Window.partitionBy(normalized_text_key(text_col)).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def in_injected_universe(col: str | Column) -> Column:
    """Membership predicate for the injected-duplicate contract universe
    (the ~100 docs — sources doc_id < 50 plus their +100000 copies — whose
    true pairs tests/test_dedup.py checks exhaustively). ONE definition so
    the oracle-scoped queries, tests, and tools cannot drift apart."""
    c = F.col(col) if isinstance(col, str) else col
    return (c < 50) | (c >= 100000)


def with_injected_duplicates(d: DataFrame) -> DataFrame:
    """The driver corpus is duplicate-free (FIXTURES.md §1), so the checked
    queries first inject copies (doc_id+100000 for doc_id<50) — the oracle
    does the same, making the dedup semantics a real, non-vacuous check."""
    dupes = d.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return d.unionByName(dupes)


@register(
    "dedup_exact",
    oracle="""
    WITH all_docs AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, lang, n_copies FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY LOWER(TRIM(text)) ORDER BY doc_id) AS rn,
               COUNT(*)    OVER (PARTITION BY LOWER(TRIM(text))) AS n_copies
        FROM all_docs)
    WHERE rn = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 — exact dedup by normalized-text hash: keep the lowest doc_id of
    each group, report the group size. sha2(256) group keys shuffle as 32
    bytes regardless of document size — at 100 TB the texts themselves never
    shuffle (only in this demo query do they ride along for the oracle)."""
    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    )
    w = Window.partitionBy(normalized_text_key("text"))
    return (
        docs.withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_copies", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_copies")
    )


# ---------------------------------------------------------------------------
# H2 — MinHash + LSH near-dup clustering

N_HASHES = 64
N_BANDS = 16  # 16 bands × 4 rows: catches Jaccard ≳ 0.5 with high recall
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_W = 3


def word_shingles(text: Column, w: int = SHINGLE_W) -> Column:
    """Distinct w-word shingles as a single Column expression (higher-order
    sequence + transform; no explode). Convenient for per-row/unit-test use,
    but HOFs run interpreted (~19 µs/shingle measured) — corpus-scale
    operators go through :func:`with_shingles`, which produces IDENTICAL
    values on a ~4× faster JVM path (asserted equal by tests/test_dedup.py).
    """
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - w, F.lit(0)))
    return F.array_distinct(
        F.transform(
            starts,
            lambda i: F.array_join(F.slice(toks, i + 1, w), " "),
        )
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", out_col: str = "sh", w: int = SHINGLE_W
) -> DataFrame:
    """Append a distinct w-word-shingle array column — the corpus-scale
    shingle path. ``pyspark.ml.feature.NGram`` does the sliding join in
    compiled JVM code (~4× faster than the interpreted higher-order
    ``transform``+``slice``+``array_join`` measured at sf0.1, where shingle
    construction — not hashing — dominated MinHash cost). Docs shorter than
    ``w`` tokens fall back to one partial shingle of all their tokens,
    matching :func:`word_shingles` and the DuckDB oracles'
    ``GENERATE_SERIES(1, GREATEST(len-2, 1))`` exactly. NULL text yields a
    NULL shingle array (same null-propagation as :func:`word_shingles`;
    NGram's ML UDF would NPE on a null token array, so the tokens are
    coalesced to empty for the transform and the null is restored after).
    If ``pyspark.ml`` is unavailable (minimal Spark build), falls back to
    the value-identical Column form — slower, never wrong."""
    try:
        from pyspark.ml.feature import NGram
    except ImportError:  # pragma: no cover - full pyspark always ships ml
        return df.withColumn(out_col, word_shingles(F.col(text_col), w))

    toks_col, raw_col = f"__toks_{out_col}", f"__ngrams_{out_col}"
    toked = df.withColumn(
        toks_col,
        F.coalesce(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            F.array().cast("array<string>"),
        ),
    )
    grams = NGram(n=w, inputCol=toks_col, outputCol=raw_col).transform(toked)
    short = F.array(F.array_join(F.slice(F.col(toks_col), 1, w), " "))
    return grams.withColumn(
        out_col,
        F.when(
            F.col(text_col).isNotNull(),
            F.array_distinct(
                F.when(F.size(F.col(toks_col)) < w, short).otherwise(F.col(raw_col))
            ),
        ),
    ).drop(toks_col, raw_col)


def minhash_signature(shingles: Column, n_hashes: int = N_HASHES) -> Column:
    """n_hashes-element MinHash signature as a single per-row expression.

    Same hash scheme as :func:`minhash_signatures_df` (each shingle string
    hashed ONCE, then n_hashes derived 8-byte re-hashes), so the two paths
    produce identical signatures — asserted by tests/test_dedup.py.

    NOTE: higher-order functions run interpreted (not codegen'd) in Spark,
    so this form is fine for small inputs and unit tests, but the
    corpus-scale path is :func:`minhash_signatures_df`, which keeps every
    hash inside WholeStageCodegen.
    """
    base = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(F.transform(base, lambda h: F.xxhash64(i, h))),
    )


def minhash_signatures_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """(id, sig) with the MinHash signature computed on the codegen path:
    explode shingles → hash each shingle string ONCE → n_hashes flat
    ``min(xxhash64(i, h))`` aggregates over the 8-byte hash → re-assemble
    the array. Deriving the hash family by re-hashing the fixed-width
    shingle hash (instead of hashing the variable-length string n_hashes
    times) keeps per-shingle cost ~constant in n_hashes — measured ~3×
    faster at sf0.1 with identical collision statistics (each xxhash64 seed
    is an independent permutation-quality map of the 64-bit space). The
    min() partials combine map-side, so the groupBy shuffles just n_hashes
    longs per doc — this is the 100 TB shape (one shuffle, all hashing
    inside WholeStageCodegen)."""
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")).filter(
        # null text produces no shingles and thus no signature — the
        # explicit filter keeps the old null-tolerant contract (rows
        # dropped, never an executor NPE) for all library callers.
        F.col("__t").isNotNull()
    )
    # A small parquet input yields few splits (sf0.1 documents: 2), leaving
    # the shingle+hash stage underparallelized. Measured −0.25 s at sf0.1.
    shingled = with_shingles(spread(base), text_col="__t")
    exploded = shingled.select("id", F.explode("sh").alias("s")).select(
        "id", F.xxhash64("s").alias("h")
    )
    # One array-of-aggregates expression instead of n_hashes aliased aggs +
    # an n_hashes-column reassembly select: values are identical and the
    # partial (map-side) min combine is unchanged, but Catalyst analyzes
    # ~1/2 the expressions — measured 0.34 s less per fresh build at
    # sf0.1, which matters because the bench deliberately rebuilds this
    # plan every run (REBUILD_EACH_RUN). Built as ONE SQL string parsed
    # JVM-side: the Column-object form costs ~200 py4j round-trips
    # (~0.22 s per fresh build); the bare int literal parses to the same
    # IntegerType literal F.lit(i) produced, so xxhash64's type-sensitive
    # hashing is unchanged (value identity asserted in tests/test_dedup.py).
    sig = "array(" + ",".join(
        f"min(xxhash64({i}, h))" for i in range(n_hashes)
    ) + ") AS sig"
    return exploded.groupBy("id").agg(F.expr(sig))


def lsh_band_keys(sig: Column, n_bands: int = N_BANDS) -> Column:
    """Hash each band (contiguous signature slice) to one 64-bit bucket key."""
    rows = ROWS_PER_BAND
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.xxhash64(b, F.array_join(F.slice(sig, b * rows + 1, rows), ",")),
    )


#: Production default ceiling on LSH bucket size: a (band_id, band_hash)
#: bucket holding more than this many docs is DROPPED from the pair
#: self-join (it would contribute O(size²) candidate pairs — the measured
#: 100 TB scale-killer, SCALING.md "exact-dup-rate boundary"). 256 keeps
#: the worst admitted bucket at ≤32k pairs while sitting far above every
#: organic bucket observed at sf0.001–0.1, so default results are
#: oracle-identical to the uncapped form. Recall trade, explicitly: a true
#: pair is lost only if EVERY band it collides in is oversized — for exact
#: copies in groups > cap that is all 16 bands, which is exactly why the
#: production composition collapses exact dups FIRST (minhash_clusters
#: collapse_exact); for organic boilerplate mega-buckets the dropped pairs
#: are the low-value quadratic mass a curation pipeline caps anyway.
LSH_MAX_BUCKET = 256


def minhash_candidate_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    sim_threshold: float = 0.7,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    on_oversized: str = "drop",
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified by estimated
    Jaccard (fraction of agreeing signature entries). ``on_oversized``
    passes through to :func:`lsh_band_pairs` (drop | error | split).

    Scale shape: signatures are map-side; the only shuffles are the band
    explode (n_bands rows per doc) and the equi self-join on
    (band_id, band_hash) — pairs are generated per shared bucket, never
    by a cartesian product. Returns (a, b, est_jaccard) with a < b.
    """
    # localCheckpoint: the signature table feeds both sides of the self-join
    # below — materialize once instead of recomputing the hash pipeline twice
    # (at full scale this would be a persisted/bucketed signature table).
    sig = minhash_signatures_df(docs, id_col, text_col).localCheckpoint(eager=True)
    pairs = lsh_band_pairs(
        sig, max_bucket_size=max_bucket_size, on_oversized=on_oversized
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        / F.lit(N_HASHES)
    )
    return (
        pairs.join(sig.select(F.col("id").alias("a"), F.col("sig").alias("sig_a")), "a")
        .join(sig.select(F.col("id").alias("b"), F.col("sig").alias("sig_b")), "b")
        .select("a", "b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= sim_threshold)
    )


def lsh_oversized_buckets(
    sig: DataFrame, max_bucket_size: int = LSH_MAX_BUCKET
) -> DataFrame:
    """(band_id, band_hash, bucket_size) for buckets the cap would drop —
    the monitoring half of drop-with-log: production runs this alongside
    ``lsh_band_pairs`` and alerts/samples the dropped buckets (they are
    almost always one boilerplate family per bucket). Delegates to the
    shared :func:`~avro_parquet_spark_example_spark.operators.capping.
    oversized_groups`."""
    bands = sig.select(
        F.posexplode(lsh_band_keys(F.col("sig"))).alias(
            "band_id", "band_hash"
        )
    )
    return oversized_groups(
        bands, ["band_id", "band_hash"], max_bucket_size
    ).withColumnRenamed("group_size", "bucket_size")


def lsh_band_pairs(
    sig: DataFrame,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    on_oversized: str = "drop",
) -> DataFrame:
    """Deduplicated band-sharing candidate pairs (a, b) from a signature
    table (id, sig). The bucket self-join runs on SLIM (id, band_id,
    band_hash) rows — the 64-long signature arrays stay out of the band
    shuffle entirely (they would multiply its volume ~20×: one array per
    exploded band copy, both sides). Callers needing est-Jaccard join the
    pair list back to the signature table (``minhash_candidate_pairs``);
    callers that verify exactly (``dedup_minhash_verified``) consume the
    pairs directly — a band collision is already the candidate predicate,
    and the exact-Jaccard gate subsumes any signature-estimate filter.

    ``max_bucket_size`` is the 100 TB skew dial: bucket sizes are counted
    per (band_id, band_hash) with one map-side-combined aggregate on the
    SAME key the self-join shuffles on (the exchange is shared, not
    doubled), and buckets above the cap — or below 2, which cannot form a
    pair — are filtered out BEFORE the self-join, so no executor ever
    materializes a quadratic mega-bucket expansion. ``None`` disables the
    cap (the exact pre-capped semantics, used by the uncapped-equivalence
    test). Dropped buckets are observable via ``lsh_oversized_buckets``.

    ``on_oversized`` picks what a >cap bucket does:

    * ``"drop"`` (production default) — drop-with-log: the bucket is
      excluded and observable via ``lsh_oversized_buckets``. Output is
      then cap-DEPENDENT (pairs that only collide in a dropped bucket
      vanish), which is the intended skew trade at 100 TB but NOT an
      exact contract.
    * ``"error"`` — exact-or-fail: an ``assert_true`` on the bucket-size
      aggregate raises at execution time if ANY bucket exceeds the cap,
      so whenever the query *succeeds* its output is bit-identical to the
      uncapped semantics. This is what oracle-hash-checked callers
      (``dedup_minhash_verified``) use: the capped/uncapped equivalence
      is no longer a data-dependent assumption verified only on the
      sf0.001–0.1 fixtures — a future fixture (or real corpus) with an
      organic mega-bucket turns into a loud failure instead of a silent
      engine-vs-oracle divergence. Zero extra jobs: the assert rides the
      already-computed ``__bsz`` column inside the shared exchange.
    * ``"split"`` — recall-bounded availability: an oversized bucket is
      sub-partitioned into ``ceil(size / cap)`` sub-buckets by a secondary
      hash SALTED ON band_id (``xxhash64(id, band_id)``), and the
      self-join runs WITHIN sub-buckets — per-task expansion stays ~cap²
      no matter how hot the bucket. The band salt makes each band's
      sub-partitioning independent, so a pair sharing an oversized bucket
      in all b bands is caught with probability 1-(1-1/n_sub)^b (≈ 0.999
      at n_sub=3, b=16) instead of the 1/n_sub an unsalted hash would give
      — near-full recall at bounded memory. Buckets at-or-under the cap
      are untouched (one sub-bucket, exact semantics). ``drop`` trades
      recall to zero on hot buckets, ``error`` trades availability;
      ``split`` is the middle dial for corpora where hot buckets carry
      signal you can't afford to drop wholesale. NOT for hash-checked
      callers: output depends on the sub-partitioning hash.

    With ``max_bucket_size=None`` the cap machinery is skipped entirely and
    ``on_oversized`` is a (still-validated) no-op.

    Cap machinery: the shared :func:`~avro_parquet_spark_example_spark.
    operators.capping.capped_group` (sub-hash salted on ``band_id`` so
    each band's sub-partitioning is independent; singleton buckets
    pruned inside the same aggregate)."""
    bands = sig.select(
        "id",
        F.posexplode(lsh_band_keys(F.col("sig"))).alias("band_id", "band_hash"),
    )
    bands, join_keys = capped_group(
        bands,
        ["band_id", "band_hash"],
        max_bucket_size,
        on_oversized,
        split_salt_cols=["id", "band_id"],
        min_group_size=2,
        cap_name="max_bucket_size",
        label="LSH band bucket",
    )
    return (
        bands.select(F.col("id").alias("a"), *join_keys)
        .join(bands.select(F.col("id").alias("b"), *join_keys), join_keys)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def minhash_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sim_threshold: float = 0.7,
    collapse_exact: bool = True,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    on_oversized: str = "drop",
) -> DataFrame:
    """(id, cluster_id) near-dup clusters — the production composition.
    ``on_oversized`` passes through to the banding stage (drop | error |
    split — ``split`` keeps bounded memory at near-full recall on hot
    boilerplate buckets the exact-collapse pre-stage cannot remove).

    With ``collapse_exact`` (default), EXACT duplicates are collapsed to
    their min-id representative BEFORE the MinHash pipeline and re-attached
    as (rep, member) edges afterwards. This is value-EXACT, not an
    approximation: identical normalized text ⇒ identical shingle sets ⇒
    identical signatures, so for any third doc X, est(member, X) ==
    est(rep, X) and J(member, X) == J(rep, X) — every candidate and
    verification decision is unchanged, and the member-member edges the
    direct form would emit are implied through the representative. Asserted
    equal to the direct form by tests/test_dedup.py. (The collapse stage
    shuffles the corpus once, keyed by the 32-byte text hash — the same
    cost class as any dedup pass over the data; it is the NEAR-dup stage's
    quadratic bucket blowup that the collapse removes.)

    Why it matters at scale: the direct form's band buckets hold EVERY
    exact copy, and intra-bucket pair expansion is quadratic in the copy
    count — measured OOM at a 99% dup rate (SCALING.md "exact-dup-rate
    boundary"), while the collapsed form's near-dup cost stays proportional
    to the CANONICAL corpus no matter the dup rate."""
    keyed = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        # null text yields no signature in the direct form (absent from all
        # edges, i.e. kept); filtering here preserves that contract — a
        # window over the NULL hash key would otherwise collapse every
        # null-text row into one bogus "exact-dup" cluster
        .filter(F.col("__t").isNotNull())
        .withColumn("__k", normalized_text_key("__t"))
    )
    if not collapse_exact:
        pairs = minhash_candidate_pairs(
            keyed.select("id", "__t"), id_col="id", text_col="__t",
            sim_threshold=sim_threshold, max_bucket_size=max_bucket_size,
            on_oversized=on_oversized,
        )
        return connected_components(pairs.select("a", "b"))
    w = Window.partitionBy("__k")
    tagged = keyed.withColumn("__rep", F.min("id").over(w))
    reps = tagged.filter(F.col("id") == F.col("__rep")).select("id", "__t")
    member_edges = tagged.filter(F.col("id") != F.col("__rep")).select(
        F.col("__rep").alias("a"), F.col("id").alias("b")
    )
    rep_pairs = minhash_candidate_pairs(
        reps, id_col="id", text_col="__t", sim_threshold=sim_threshold,
        max_bucket_size=max_bucket_size, on_oversized=on_oversized,
    ).select("a", "b")
    return connected_components(rep_pairs.unionByName(member_edges))


#: Edge-count ceiling for the driver-side union-find finish. 200k edges ≈
#: 3 MB of longs — trivially bounded driver memory. The hybrid is the
#: standard large-scale CC design (iterate/contract distributed, finish the
#: small remainder locally — cf. Kiveris et al., "Connected Components in
#: MapReduce and Beyond"): near-dup edge sets are ~duplicate-rate × corpus,
#: so even 100 TB corpora usually land under it after LSH + verification;
#: anything larger takes the distributed min-label loop below.
CC_LOCAL_EDGE_THRESHOLD = 200_000


def _cc_union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Path-compressed union-find; returns node → min-id-of-component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # compress
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps the root the component minimum for free
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    max_iter: int = 10,
    local_threshold: int = CC_LOCAL_EDGE_THRESHOLD,
) -> DataFrame:
    """Cluster ids over undirected edges (columns a, b). Returns
    (id, cluster_id = min id reachable).

    Hybrid execution: the edge list is materialized once (it is the output
    of an expensive upstream pipeline); if it is small — the common case
    for verified near-dup edges, which scale with the duplicate rate, not
    the corpus — a driver-side union-find finishes in one pass instead of
    paying multi-round job latency. Larger edge sets run iterative
    min-label propagation: each round is two shuffle joins, with
    ``localCheckpoint`` cutting lineage so plans stay bounded; converges in
    O(diameter) rounds (near-dup clusters are shallow); ``max_iter`` bounds
    the worst case."""
    # One action answers BOTH "how big?" and "give me the edges": a limit
    # of threshold+1 rows that comes back under the limit IS the complete
    # edge set, while an over-threshold graph stops collecting at the cap
    # instead of pulling the whole edge list to the driver. The probe runs
    # the upstream pipeline ONCE with no checkpoint barrier first — in the
    # common small-graph case that saves a full materialization job; only
    # the over-threshold path (where per-round re-reads would otherwise
    # re-execute the upstream pipeline) pays for a checkpoint, and its one
    # redundant upstream run is amortized over the propagation rounds.
    head = edges.select("a", "b").limit(local_threshold + 1).collect()
    if len(head) <= local_threshold:
        labels = _cc_union_find([(r.a, r.b) for r in head])
        return edges.sparkSession.createDataFrame(
            list(labels.items()), schema="id long, cluster_id long"
        )
    sym = (
        edges.select("a", "b")
        .unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    prev_sum: int | None = None
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(sym.a.alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        # Labels only ever decrease, so an unchanged sum ⟺ a fixpoint —
        # one cheap aggregate instead of a join-based diff per round.
        new_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


@register("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 — MinHash+LSH near-dup clusters over documents (plus injected
    duplicates so clusters exist at any sf). Rows-only driver check; pair
    recall and cluster correctness are pytest properties
    (tests/test_dedup.py)."""
    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    pairs = minhash_candidate_pairs(docs, sim_threshold=0.7)
    clusters = connected_components(pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.sort_array(F.collect_list("id")).alias("members"))
        .filter(F.col("cluster_size") >= 2)
        .select("cluster_id", "cluster_size", F.array_join(F.transform("members", lambda m: m.cast("string")), ",").alias("member_ids"))
    )


def exact_verified_pairs(
    cands: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    bounded: bool = True,
    doc_filter: Column | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs (a, b): only
    docs appearing in some pair are re-shingled (semi-join first), each
    pair keeps iff true Jaccard >= threshold. ``bounded`` adds broadcast
    hints — sound only when the candidate set is known small (the
    injected-universe contract); pass False for unbounded candidate sets
    and let AQE pick. ``doc_filter``, when given, must be a predicate
    SUPERSETTING the candidate ids (e.g. a static id-range universe): the
    shingle side then prunes by a pushed-down filter on the doc scan
    instead of computing + broadcasting the distinct candidate-id set —
    one less plan and one less broadcast job when the caller statically
    knows the universe. Shared by ``dedup_minhash_verified`` and the
    stage profiler that lived in ``tools/`` up to commit ced5246, so the
    profiler could never measure a stale copy of the stage."""
    hint = F.broadcast if bounded else (lambda df: df)
    if doc_filter is not None:
        doc_side = docs.filter(doc_filter)
    else:
        cand_ids = (
            cands.select(F.col("a").alias("vid"))
            .unionByName(cands.select(F.col("b").alias("vid")))
            .distinct()
        )
        doc_side = docs.join(
            hint(cand_ids), F.col(id_col) == F.col("vid"), "leftsemi"
        )
    sh = with_shingles(
        doc_side.filter(F.col(text_col).isNotNull()), text_col=text_col
    ).select(F.col(id_col).alias("vid"), "sh")
    true_j = F.size(F.array_intersect("sa.sh", "sb.sh")) * 1.0 / F.size(
        F.array_union("sa.sh", "sb.sh")
    )
    return (
        cands.join(hint(sh.alias("sa")), F.col("a") == F.col("sa.vid"))
        .join(hint(sh.alias("sb")), F.col("b") == F.col("sb.vid"))
        .filter(true_j >= threshold)
        .select("a", "b")
    )


@register(
    "dedup_minhash_verified",
    oracle="""
    WITH RECURSIVE pool AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
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
    ),
    pairs AS (
        SELECT a, b FROM common
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.7
    ),
    edges AS (
        SELECT a AS u, b AS v FROM pairs
        UNION ALL
        SELECT b AS u, a AS v FROM pairs
    ),
    nodes AS (SELECT doc_id AS node FROM pool),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r
    )
    SELECT node AS doc_id,
           MIN(r) AS component,
           (MIN(r) = node) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 (oracle-checked tier) — the full production near-dup pipeline with
    an EXACT contract: LSH band collisions are consumed DIRECTLY as
    candidates (no est-Jaccard stage — the exact gate below subsumes any
    signature-estimate filter), each candidate is then verified by TRUE
    3-word-shingle Jaccard ≥ 0.7 (one join back to the shingle arrays —
    only candidate pairs pay it, never all pairs), and the verified pairs
    resolve to connected components. Because verification is
    exact, the output is fully determined by the data — so unlike
    ``dedup_minhash_lsh`` (whose est-Jaccard output depends on hash seeds),
    this query hash-checks against a DuckDB oracle that recomputes shingle
    Jaccard by inverted-index self-join and the components by recursive-CTE
    transitive closure. LSH recall makes the two agree: the fixture's true
    pairs are injected exact copies (J = 1.0 ⇒ caught with probability 1)
    plus a few dozen organic near-dups at J ≈ 0.9+, far above the banding
    S-curve's miss region.

    Data-independence by construction: the EDGE universe is restricted on
    BOTH engine sides to the injected doc_id ranges (doc_id < 50 or
    doc_id ≥ 100000 — the 100-doc universe ``with_injected_duplicates``
    controls). Every true pair inside that universe is either an exact
    injected copy (identical signatures ⇒ caught with probability 1) or an
    organic pair among the 50 lowest-id docs, which
    tests/test_dedup.py::test_lsh_candidates_cover_all_true_pairs checks
    EXHAUSTIVELY (≤ C(100,2) exact Jaccards) — so no future fixture can
    smuggle in a borderline pair that LSH probabilistically misses while
    the exact oracle finds it. Docs outside the universe keep themselves
    as component (no edges touch them). The range filter is applied AFTER
    the candidate checkpoint, so the LSH banding stage still runs over the
    FULL corpus — the scale-critical path stays exercised (and benched);
    only the exact cross-engine contract is scoped to the deterministic
    universe.

    Scale shape: candidates from bucketed LSH (never all-pairs), exact
    verification only on candidates, min-label CC with bounded per-round
    state — each stage is the 100 TB form of itself.
    """
    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # Candidates are raw band-sharing pairs — no est-Jaccard stage: the
    # exact-Jaccard gate below SUBSUMES any signature-estimate filter
    # (everything est would drop, exact verification drops too, while a
    # true pair est mis-scores below 0.5 now correctly reaches the exact
    # gate — strictly closer to the oracle, which knows nothing of
    # signatures). Skipping est also keeps the two signature re-joins out
    # of this pipeline entirely. Candidates are consumed twice below —
    # materialize once; the set is bounded by the LSH collision rate,
    # never corpus-sized. The checkpoint also pins the full-corpus banding
    # work: the universe filter below cannot be pushed into an
    # already-materialized plan.
    sig = minhash_signatures_df(docs).localCheckpoint(eager=True)
    # on_oversized="error": this query's output hash-checks against an
    # UNCAPPED DuckDB oracle, so the bucket cap must be exact-or-fail — a
    # corpus with an organic >cap bucket raises here instead of silently
    # dropping pairs the oracle still finds (ADVICE r7).
    cands = (
        lsh_band_pairs(sig, on_oversized="error")
        .localCheckpoint(eager=True)
        .filter(in_injected_universe("a") & in_injected_universe("b"))
    )
    # Only docs that appear in some candidate pair need their shingle
    # arrays — exact_verified_pairs semi-joins first so the (wide) shingle
    # computation runs over the candidate subset, not the whole corpus
    # (at 100 TB: re-shingle ~0.1% of docs, not all). Everything below
    # cands is universe-bounded (≤ ~100 docs by construction), so
    # bounded=True's broadcast hints are safe BY DESIGN.
    verified = exact_verified_pairs(
        cands,
        docs,
        threshold=0.7,
        bounded=True,
        # the candidate ids are universe-filtered above, so the static
        # universe range is a superset — the shingle side prunes by a
        # pushed-down doc_id predicate instead of a broadcast semi-join
        doc_filter=in_injected_universe("doc_id"),
    )
    labeled = connected_components(verified, max_iter=25)
    nodes = docs.select("doc_id")
    return nodes.join(
        F.broadcast(labeled), nodes["doc_id"] == labeled["id"], "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("component"),
        (F.coalesce("cluster_id", "doc_id") == F.col("doc_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# H2c — exact substring-span dedup (Lee et al. 2022)

SUBSTR_K = 8  # tokens per rolling window; Lee et al. use 50 BPE tokens


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH pool AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
    ),
    toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS t
        FROM pool WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos,
               ARRAY_TO_STRING(LIST_SLICE(t, i, i + {SUBSTR_K} - 1), ' ') AS g
        FROM toks,
             UNNEST(GENERATE_SERIES(1, LEN(t) - {SUBSTR_K} + 1)) AS u(i)
        WHERE LEN(t) >= {SUBSTR_K}
    ),
    dups AS (
        SELECT doc_id, pos, pos + {SUBSTR_K} AS fin
        FROM (
            SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY g
                                      ORDER BY doc_id, pos) AS rn
            FROM grams
        ) WHERE rn >= 2
    ),
    marked AS (
        SELECT doc_id, pos, fin,
               CASE WHEN pos > COALESCE(MAX(fin) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), -1) THEN 1 ELSE 0 END AS new_island
        FROM dups
    ),
    islands AS (
        SELECT doc_id, pos, fin,
               SUM(new_island) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM marked
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(fin) AS span_end
    FROM islands GROUP BY doc_id, island
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2c — exact substring-span dedup: for every {SUBSTR_K}-token window
    that occurred EARLIER in the corpus (order = (doc_id, token position)),
    emit the containing token span, with overlapping/adjacent windows merged
    per doc — the span list a trainer cuts before tokenization. This is the
    within/cross-document *substring* tier from Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), which
    whole-document MinHash can't express: boilerplate headers, licenses and
    quoted blocks repeat inside otherwise-unique documents.

    Spark shape: tokenize → NGram({SUBSTR_K}) → posexplode → one shuffle on
    the 8-byte window hash (first-occurrence ranking via row_number, never
    the gram text — at 100 TB only hashes and (doc, pos) longs move) → one
    shuffle back on doc_id for the classic gaps-and-islands span merge. A
    suffix array finds arbitrary-length repeats in one pass, but it is a
    whole-corpus sort; the rolling-window form is two bounded shuffles and
    catches every repeat of length ≥ K exactly. Cross-engine contract:
    Spark groups windows by xxhash64, the oracle by the gram string — the
    equivalence classes differ only on a 64-bit collision (~1e-9 at gate
    scale; any true repeated string is seen identically by both engines).
    """
    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return substring_dup_spans(docs)


def substring_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SUBSTR_K,
) -> DataFrame:
    """Reusable core of :func:`dedup_substring_spans` over any (id, text)
    DataFrame: merged token spans [span_start, span_end) of every k-token
    window that occurred earlier in (id, position) order.

    Like :func:`with_shingles`, ``pyspark.ml.feature.NGram`` is the fast
    compiled gram path with a value-identical Column-expression fallback
    (sliding ``slice``+``array_join``) when ``pyspark.ml`` is absent, so
    the operator family degrades uniformly on a minimal Spark build."""
    try:
        from pyspark.ml.feature import NGram
    except ImportError:  # pragma: no cover - full pyspark always ships ml
        NGram = None

    toked = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
        .withColumn("t", F.split(F.lower(F.trim(F.col("__text"))), r"\s+"))
    )
    if NGram is not None:
        gram_src = NGram(n=k, inputCol="t", outputCol="g").transform(toked)
    else:  # pragma: no cover - exercised only on ml-less builds
        t = F.col("t")
        gram_src = toked.withColumn(
            "g",
            F.when(
                F.size(t) >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - k),
                    lambda i: F.array_join(F.slice(t, i + 1, k), " "),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    grams = (
        gram_src
        .select("doc_id", F.posexplode("g").alias("pos", "gram"))
        .select("doc_id", "pos", F.xxhash64("gram").alias("gh"))
    )
    w_first = Window.partitionBy("gh").orderBy("doc_id", "pos")
    dups = (
        grams.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos", (F.col("pos") + k).alias("fin"))
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max("fin").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dups.withColumn(
        "island",
        F.sum(
            (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")
        ).over(w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("span_start"), F.max("fin").alias("span_end"))
        .select(
            F.col("doc_id").alias(id_col), "span_start", "span_end"
        )
    )


# ---------------------------------------------------------------------------
# H2b — SimHash fingerprints


#: Bit masks 1<<j as signed 64-bit literals (1<<63 wraps negative) —
#: shiftleft/shiftright built-ins only accept literal shift amounts, so bit
#: tests inside lambdas go through this constant array instead.
_BIT_MASKS = [(1 << j) - (1 << 64 if j == 63 else 0) for j in range(64)]


def simhash64(text: Column) -> Column:
    """64-bit SimHash: per token, xxhash64 → ±1 vote per bit position;
    fingerprint bit j is set iff the summed vote is ≥ 0. Pure higher-order
    expression, map-side only.

    Shape (r15): ONE aggregate pass accumulating the 64 bit-vote counters
    as an int array. The previous form evaluated a separate fold per bit,
    and because interpreted HOFs have no common-subexpression elimination,
    each of the 64 folds re-tokenized and re-hashed the document — 64
    split/distinct/xxhash64 passes per row (the r15 profile's dominant
    cost, 5.6 s single-task at sf0.1). Votes are exact integers either
    way, so fingerprints are bit-identical."""
    toks = F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    # OR together the masks of set bits (XOR of disjoint masks == OR).
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v >= 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseXOR(x),
    )


@register("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2b — SimHash exact-bucket dedup groups (hamming-distance-0). Wider
    hamming radii are served by banding the fingerprint into 4×16-bit keys
    (pigeonhole: any pair within hamming ≤3 shares a band) — the same
    bucket-join shape as MinHash-LSH. Rows-only; bit properties in pytest."""
    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # single-split scan otherwise fingerprints the corpus in one task
    fp = spread(docs).select(
        "doc_id", simhash64(F.col("text")).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# H2c — token-set Jaccard via inverted-index join (oracle-checked)


def _jaccard_pairs_duck(threshold: float) -> str:
    """DuckDB tail of the exact token-set Jaccard oracles: from per-doc
    token sets ``toks`` (doc_id, tok), every doc pair (a < b) whose
    Jaccard similarity is at least ``threshold``."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT a, b, ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= {threshold}
    """


@register(
    "neardup_jaccard",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS tok
        FROM documents WHERE doc_id < 150
    ),
    {_jaccard_pairs_duck(0.55)}""",
)
def neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2c — exact token-set Jaccard pairs ≥ 0.55 via an inverted-index
    self-join: pairs materialize only for docs sharing a token. (At corpus
    scale you additionally drop stop-tokens with document frequency above a
    cutoff to bound the per-token fan-out — same plan shape; the LSH
    operator above is the probabilistic fast path.) Bounded here to
    doc_id<150 to keep the oracle's quadratic check cheap."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), " "))
        ).alias("tok"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = toks.alias("ta"), toks.alias("tb")
    common = (
        a.join(b, (F.col("ta.tok") == F.col("tb.tok")) & (F.col("ta.doc_id") < F.col("tb.doc_id")))
        .groupBy(F.col("ta.doc_id").alias("a"), F.col("tb.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") * 1.0 / (F.col("sa.sz") + F.col("sb.sz") - F.col("c"))
    return (
        common.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("b"))
        .filter(jac >= 0.55)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "neardup_levenshtein",
    oracle="""
    WITH pool AS (
        SELECT doc_id, SUBSTR(text, 1, 40) AS head FROM documents WHERE doc_id < 60
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           LEVENSHTEIN(a.head, b.head) AS edit_dist
    FROM pool a JOIN pool b ON a.doc_id < b.doc_id
    WHERE LEVENSHTEIN(a.head, b.head) <= 20
    """,
)
def neardup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2e — edit-distance near-dup pairs (Levenshtein ≤ threshold on
    fixed-length prefixes). Both engines implement the standard DP metric,
    so values hash-match exactly. Quadratic in the candidate pool by nature
    — at corpus scale this runs INSIDE LSH/fingerprint buckets (same
    blocked-join shape as every pair operator here), never corpus-wide;
    bounded to 60 docs × 40-char heads for the demo."""
    pool = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", F.substring("text", 1, 40).alias("head"))
    )
    a = pool.select(F.col("doc_id").alias("a"), F.col("head").alias("ha"))
    b = pool.select(F.col("doc_id").alias("b"), F.col("head").alias("hb"))
    dist = F.levenshtein("ha", "hb")
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") <= 20)
    )


# ---------------------------------------------------------------------------
# H2d — embedding-cosine near-dup pairs (exact; LSH scale path in simsearch)


@register(
    "neardup_embedding",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b, a.embedding AS ea, b.embedding AS eb
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id AND a.label = b.label
    ),
    dots AS (
        SELECT a, b,
               (SELECT SUM(CAST(ea[g.i] AS DOUBLE) * CAST(eb[g.i] AS DOUBLE))
                FROM GENERATE_SERIES(1, 64) g(i)) AS dot
        FROM pairs
    )
    SELECT a, b, ROUND(dot, 5) AS cos_sim
    FROM dots WHERE dot >= 0.30
    """,
)
def neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2d — cosine near-duplicate pairs among embeddings, blocked by the
    label column (a coarse quantizer: only same-label pairs are compared —
    the blocked-join shape used at scale, where the block key comes from
    LSH/IVF instead of a given label). Unit-norm vectors ⇒ dot == cosine;
    both engines fold float32→double products in index order, so the doubles
    (and the 0.30 threshold decision) are bit-identical.

    The float→double cast runs per VECTOR, before the self-join — in a
    pair join each vector appears in ~(block size) pairs, so casting
    inside the per-pair fold (as ``dot_product`` does for its
    one-dot-per-row callers) multiplies the cast work by the block size.
    Same per-element double, same fold order, bit-identical output —
    measured 3.3× on the sf0.1 pair join. The one-shuffle blocked join
    and the per-pair fold are unchanged: at 100 TB the block key is the
    quantizer cell and per-cell pair counts are what the cap/quantizer
    design bounds."""
    e = load(spark, sf_dir, "embeddings")
    ed = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    # spread: the one-split scan otherwise probes the label-hash relation
    # in a SINGLE task — every candidate pair's 64-element fold on one
    # core (guide §2.5 input skew; measured 11.1 s → spread cut below).
    # Only the probe side widens; the broadcast build side stays as-is.
    a = spread(ed, width_from=e).select(
        F.col("vec_id").alias("a"), F.col("label").alias("la"), F.col("emb").alias("ea")
    )
    b = ed.select(
        F.col("vec_id").alias("b"), F.col("label").alias("lb"), F.col("emb").alias("eb")
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # The 0.30 gate is written INTO the join condition, after a < b: a
    # separate .filter() gets pushed into the condition AHEAD of the
    # cheap id bound (observed plan: `fold >= 0.3 AND a < b`), making
    # every hash-matched (a, b) AND (b, a) ordering pay the 64-element
    # fold. Conjunct order as written is preserved, so a < b now
    # short-circuits half the candidate folds. Same conjunction, same
    # pairs, same doubles — result set unchanged.
    return (
        a.join(
            b,
            (F.col("a") < F.col("b"))
            & (F.col("la") == F.col("lb"))
            & (dot >= 0.30),
        )
        .withColumn("cos_sim", dot)
        .select("a", "b", F.round("cos_sim", 5).alias("cos_sim"))
    )


@register(
    "dedup_contamination",
    oracle="""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
    ),
    grams AS (
        SELECT doc_id, ARRAY_TO_STRING(w[i:i+3], ' ') AS g
        FROM toks, UNNEST(RANGE(1, LEN(w) - 2)) AS t(i)
    ),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20)
    SELECT doc_id, COUNT(DISTINCT g) AS n_shared_grams
    FROM grams
    WHERE doc_id >= 20 AND g IN (SELECT g FROM eval_grams)
    GROUP BY doc_id
    """,
)
def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2e — benchmark-contamination detection: which corpus documents share
    a 4-word n-gram with the held-out eval set (here: doc_id < 20 plays the
    benchmark; in production it is the eval suite's text). The standard
    decontamination pass before training.

    Shape: shingle both sides (sequence + slice, JVM-side), explode, and
    semi-join corpus grams against distinct eval grams. The eval side is
    tiny by construction (benchmarks are ~MBs), so the join broadcasts and
    the corpus side never shuffles its full shingle stream — per-doc
    matches aggregate with map-side combine. At 100 TB the corpus leg is a
    scan + broadcast-probe, linear and shuffle-light; only the matched
    (doc, gram) pairs reach the exchange."""
    d = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    # guard: Spark sequence(1, n) with n < 1 counts DOWN, not empty — short
    # docs (<4 words) must yield zero shingles like DuckDB's RANGE does
    shingles = F.when(
        F.size(w) >= 4,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 3),
            lambda i: F.array_join(F.slice(w, i, 4), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = d.select("doc_id", F.explode(shingles).alias("g"))
    eval_grams = grams.filter(F.col("doc_id") < 20).select("g").distinct()
    return (
        grams.filter(F.col("doc_id") >= 20)
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared_grams"))
    )


def sign_cell(emb_col: str | Column = "embedding", n_bits: int = 6) -> Column:
    """Deterministic coarse quantizer: bit-pack the signs of the first
    ``n_bits`` dimensions into a cell id (2^n_bits cells)."""
    c = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    return sum(
        (F.element_at(c, i + 1) > 0).cast("int") * (1 << i) for i in range(n_bits)
    )


def semantic_cell_dropped(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    n_bits: int = 6,
) -> DataFrame:
    """SemDeDup-shaped semantic dedup: within each sign-bit cell, a vector
    is dropped when some lower-id vector has cosine >= threshold; returns
    the dropped rows as (id_col, cell, kept_for = min surviving id).
    Anti-join ``df`` against the result to keep the survivors. Shared by
    the oracle-checked ``dedup_semantic_cell`` query and
    ``Engine.dedup_semantic``."""
    cells = df.select(
        F.col(id_col), F.col(emb_col), sign_cell(emb_col, n_bits).alias("cell")
    )
    a = cells.select(
        F.col(id_col).alias("a_id"),
        F.col(emb_col).alias("ea"),
        F.col("cell").alias("a_cell"),
    )
    b = cells.select(
        F.col(id_col), F.col(emb_col).alias("eb"), F.col("cell")
    )
    from avro_parquet_spark_example_spark.operators.simsearch import dot_product

    dot = dot_product("ea", "eb")
    return (
        a.join(b, (F.col("a_cell") == F.col("cell")) & (F.col("a_id") < F.col(id_col)))
        .filter(dot >= threshold)
        .groupBy(id_col, "cell")
        .agg(F.min("a_id").alias("kept_for"))
    )


@register(
    "dedup_semantic_cell",
    oracle="""
    WITH cells AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS cell
        FROM embeddings
    )
    SELECT b.vec_id, b.cell,
           MIN(a.vec_id) AS kept_for
    FROM cells a JOIN cells b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE (SELECT SUM(CAST(a.embedding[g.i] AS DOUBLE)
                      * CAST(b.embedding[g.i] AS DOUBLE))
           FROM GENERATE_SERIES(1, 64) g(i)) >= 0.35
    GROUP BY b.vec_id, b.cell
    """,
)
def dedup_semantic_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2f — semantic deduplication, SemDeDup-shaped (Abbas et al. 2023:
    cluster embeddings with k-means, drop all but one of each within-cluster
    cosine-similar group). Here the cluster assignment is a DETERMINISTIC
    coarse quantizer — the sign-bit cell of the first 6 dimensions (64
    cells) — so the op hash-checks against a DuckDB oracle; swapping the
    cell for a trained k-means assignment (cluster_kmeans) recovers the
    paper exactly and changes nothing downstream. A vector is DROPPED when
    some lower-id vector in its cell has cosine ≥ 0.35 (unit-norm ⇒ dot ==
    cosine); the survivor it defers to is the min such id — the keep-lowest
    rule every exact-dedup op in this module uses.

    Scale shape: the self-join is cell-bucketed (equi key), never
    all-pairs — pair volume is sum over cells of n_c², the same bound
    SemDeDup gets from k-means, and skewed cells are AQE-split. The dot
    product folds in index order on both engines (bit-identical doubles),
    and the output is only the dropped rows (duplicate-rate-sized, not
    corpus-sized). Shared implementation: :func:`semantic_cell_dropped`
    (also behind ``Engine.dedup_semantic``)."""
    return semantic_cell_dropped(load(spark, sf_dir, "embeddings"))


def incremental_minhash_matches(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    corpus_scope=None,
) -> DataFrame:
    """Near-dup matches of a NEW batch against an EXISTING corpus:
    (corpus_id, batch_id, jaccard). The corpus signature table is
    materialized once (``localCheckpoint`` — a persisted/bucketed table in
    production) and the band join is corpus↔batch only, so ingest cost
    scales with the batch. Candidates are verified by exact shingle
    Jaccard. ``corpus_scope`` optionally restricts REPORTED matches by
    corpus id (applied after the checkpointed full-corpus banding, so the
    scale path is unaffected) — the oracle-checked query uses it to pin
    the cross-engine contract to its exhaustively-tested universe. Shared
    by ``dedup_minhash_incremental`` and ``Engine.dedup_incremental``."""
    corpus = corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    batch = batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    # "persisted" corpus signature table — computed once, reused across
    # ingests; the batch pays signature cost for its own rows only
    sig_corpus = minhash_signatures_df(corpus).localCheckpoint(eager=True)
    sig_batch = minhash_signatures_df(batch)
    bands_c = sig_corpus.select(
        F.col("id").alias("corpus_id"),
        F.posexplode(lsh_band_keys(F.col("sig"))).alias("band_id", "band_hash"),
    )
    bands_b = sig_batch.select(
        F.col("id").alias("batch_id"),
        F.posexplode(lsh_band_keys(F.col("sig"))).alias("band_id", "band_hash"),
    )
    cands = (
        bands_c.join(bands_b, ["band_id", "band_hash"])
        .select("corpus_id", "batch_id")
        .dropDuplicates(["corpus_id", "batch_id"])
        .localCheckpoint(eager=True)
    )
    if corpus_scope is not None:
        cands = cands.filter(corpus_scope(F.col("corpus_id")))
    # exact verification on candidates only: shingle just the docs involved
    ids = (
        cands.select(F.col("corpus_id").alias("vid"))
        .unionByName(cands.select(F.col("batch_id").alias("vid")))
        .distinct()
    )
    # Broadcast hints are only sound when the candidate set is bounded by a
    # corpus_scope (the oracle query's ~100-doc universe). On the unbounded
    # library path the candidate shingle table scales with the batch's
    # near-dup rate — leave join strategy to Catalyst/AQE, which still
    # picks broadcast when the stats allow it and falls back to a shuffle
    # join instead of a driver OOM when they don't.
    hint = F.broadcast if corpus_scope is not None else (lambda df: df)
    sh = with_shingles(
        corpus.unionByName(batch)
        .filter(F.col("text").isNotNull())
        .join(hint(ids), F.col("doc_id") == F.col("vid"), "leftsemi")
    ).select(F.col("doc_id").alias("vid"), "sh")
    jac = F.size(F.array_intersect("sa.sh", "sb.sh")) * 1.0 / F.size(
        F.array_union("sa.sh", "sb.sh")
    )
    return (
        cands.join(hint(sh.alias("sa")), F.col("corpus_id") == F.col("sa.vid"))
        .join(hint(sh.alias("sb")), F.col("batch_id") == F.col("sb.vid"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("corpus_id", "batch_id", F.round("jaccard", 6).alias("jaccard"))
    )


@register(
    "dedup_minhash_incremental",
    oracle="""
    WITH srcs AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 50
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 2), ' ') AS s
        FROM (SELECT doc_id,
                     STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS toks
              FROM srcs WHERE text IS NOT NULL) t,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks) - 2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS corpus_id, b.doc_id AS src_id, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s
        GROUP BY 1, 2
    )
    SELECT corpus_id, src_id + 100000 AS batch_id,
           ROUND(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = corpus_id
    JOIN sizes sb ON sb.doc_id = src_id
    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.7
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2g — INCREMENTAL near-dup: a new batch deduped against an existing
    corpus whose MinHash signatures are already materialized — the
    batch-over-batch production shape (at 100 TB the corpus signature table
    is a persisted/bucketed table refreshed per ingest; ``localCheckpoint``
    stands in for it here). Only the NEW batch is shingled and signed; the
    band join is corpus↔batch ONLY — no corpus↔corpus re-comparison, which
    is the entire point: ingest cost scales with the batch, not the
    accumulated corpus.

    The batch is the standard injected-copy set (doc_id+100000 for
    doc_id<50, exact copies ⇒ identical signatures ⇒ banding catches them
    with probability 1); candidates are verified by exact 3-word-shingle
    Jaccard ≥ 0.7 and reported with the matched corpus doc. The exact
    cross-engine contract restricts the corpus side to doc_id < 50 (the
    100-doc universe whose true pairs tests/test_dedup.py checks
    exhaustively — same reasoning as dedup_minhash_verified), applied
    AFTER the checkpointed full-corpus band join so the scale path stays
    exercised."""
    corpus = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = corpus.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return incremental_minhash_matches(
        corpus, batch, corpus_scope=lambda c: c < 50
    )


@register(
    "dedup_sorted_neighborhood",
    oracle="""
    WITH all_docs AS (
        SELECT doc_id, text, lang, n_chars FROM documents
        WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + 100000, text, lang, n_chars FROM documents
        WHERE doc_id < 50 AND text IS NOT NULL
    ),
    s AS (
        SELECT lang, doc_id, text,
               LAG(doc_id, 1) OVER w AS nbr1_id, LAG(text, 1) OVER w AS nbr1_text,
               LAG(doc_id, 2) OVER w AS nbr2_id, LAG(text, 2) OVER w AS nbr2_text
        FROM all_docs
        WINDOW w AS (PARTITION BY lang
                     ORDER BY SUBSTR(text, 1, 16), n_chars, doc_id)
    ),
    pairs AS (
        SELECT lang, doc_id, text, nbr1_id AS nbr_id, nbr1_text AS nbr_text
        FROM s WHERE nbr1_id IS NOT NULL
        UNION ALL
        SELECT lang, doc_id, text, nbr2_id, nbr2_text
        FROM s WHERE nbr2_id IS NOT NULL
    ),
    scored AS (
        SELECT lang, doc_id, nbr_id,
               LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT(text, ' ')),
                                  LIST_DISTINCT(STRING_SPLIT(nbr_text, ' '))))
               * 1.0 /
               LEN(LIST_DISTINCT(LIST_CONCAT(STRING_SPLIT(text, ' '),
                                             STRING_SPLIT(nbr_text, ' '))))
                 AS j
        FROM pairs
    )
    SELECT lang, doc_id, nbr_id, ROUND(j, 6) AS jaccard
    FROM scored WHERE j >= 0.5
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2d — sorted-neighborhood near-dup detection (Hernández-Stolfo
    SNM): sort each language partition by a composite blocking key
    (16-char text prefix, length, id), then compare each document only to
    its 2 predecessors — candidate generation drops from O(n²) to O(n·w)
    with ONE window per partition, no self-join at all. The classic
    alternative to LSH banding when a cheap sort key separates the data:
    here the prefix key puts every injected exact copy adjacent to its
    original (verified at all three SFs), and token-set Jaccard ≥ 0.5
    confirms pairs exactly — integer set sizes, one division, both
    engines bit-equal.

    Scale: ONE shuffle (the per-lang sort window); state per task is w=2
    lagged rows. SNM's known recall limit — near-dups whose first 16
    chars differ sort apart — is the documented trade against
    dedup_minhash_lsh, which pays signature cost to be prefix-robust;
    production pipelines run multi-pass SNM with rotated keys.

    Both sides filter ``text IS NOT NULL`` explicitly: the sort key runs
    through a window ORDER BY, and the engines disagree on null placement
    (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST) — without the shared
    predicate a fixture with null text would silently produce different
    neighbor pairs instead of failing a precondition (the fn_url rule)."""
    d = with_injected_duplicates(
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text", "lang", "n_chars")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.substring("text", 1, 16), F.col("n_chars"), F.col("doc_id"))
    )
    s = d.select(
        "lang",
        "doc_id",
        "text",
        F.lag("doc_id", 1).over(w).alias("nbr1_id"),
        F.lag("text", 1).over(w).alias("nbr1_text"),
        F.lag("doc_id", 2).over(w).alias("nbr2_id"),
        F.lag("text", 2).over(w).alias("nbr2_text"),
    )
    pairs = (
        s.filter(F.col("nbr1_id").isNotNull())
        .select(
            "lang",
            "doc_id",
            F.col("nbr1_id").alias("nbr_id"),
            F.col("nbr1_text").alias("nbr_text"),
            "text",
        )
        .unionByName(
            s.filter(F.col("nbr2_id").isNotNull()).select(
                "lang",
                "doc_id",
                F.col("nbr2_id").alias("nbr_id"),
                F.col("nbr2_text").alias("nbr_text"),
                "text",
            )
        )
    )
    ta = F.array_distinct(F.split("text", " "))
    tb = F.array_distinct(F.split("nbr_text", " "))
    j = F.size(F.array_intersect(ta, tb)) * 1.0 / F.size(F.array_union(ta, tb))
    return (
        pairs.withColumn("j", j)
        .filter(F.col("j") >= 0.5)
        .select("lang", "doc_id", "nbr_id", F.round("j", 6).alias("jaccard"))
    )


@register(
    "neardup_containment",
    oracle="""
    WITH universe AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 25
        UNION ALL
        SELECT doc_id + 200000,
               ARRAY_TO_STRING(
                   LIST_SLICE(STRING_SPLIT(text, ' '), 1,
                              CAST(CEIL(LEN(STRING_SPLIT(text, ' ')) / 2.0)
                                   AS BIGINT)), ' ')
        FROM documents WHERE doc_id < 25
    ),
    toks AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS term
        FROM universe
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_terms FROM toks GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM toks a JOIN toks b
          ON b.term = a.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.id_a, s.id_b, s.n_shared,
           ROUND(s.n_shared * 1.0 / LEAST(sa.n_terms, sb.n_terms), 6)
             AS containment
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.id_a
    JOIN sizes sb ON sb.doc_id = s.id_b
    WHERE s.n_shared * 1.0 / LEAST(sa.n_terms, sb.n_terms) >= 0.9
    """,
)
def neardup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2e — containment (near-subset) detection: pairs where the smaller
    document's distinct-token set is ≥90% inside the larger's — the
    quote/excerpt/truncation relationship Jaccard MISSES (a half-length
    excerpt of a doc has Jaccard ≈ 0.5 but containment 1.0; training
    pipelines drop the excerpt, not the source). The fixture is
    duplicate-free, so the checked universe injects truncated copies
    (first half of each doc_id<25's tokens, id+200000) on both engines —
    every injected pair must surface with containment 1.0
    (tests/test_dedup.py). Counts are distinct-token integers; one
    division at the end.

    Scale: candidate pairs come from the inverted-index join (per shared
    token, never all-pairs) — the same posting-list shape as
    text_sparse_cosine_topk, with the same production guard IMPLEMENTED:
    the df-cap (``max_df_frac``, default ``TEXT_MAX_DF_FRAC``) keeps
    stop-word posting lists out of the candidate self-join, and admitted
    pairs are verified EXACTLY over their full token sets (intersection
    on the pair row — the LSH verify precedent), so the result changes
    only for pairs sharing NOTHING but stop words, which cannot reach
    containment ≥ 0.9 anyway unless the smaller doc IS stop words. The
    demo additionally bounds the universe (the neardup_levenshtein
    precedent) to keep the checked query exact."""
    base = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 25)
    toks_arr = F.split("text", " ")
    half = F.ceil(F.size(toks_arr) / 2.0).cast("int")
    truncated = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.slice(toks_arr, F.lit(1), half), " ").alias("text"),
    )
    universe = base.select("doc_id", "text").unionByName(truncated)
    return containment_pairs(universe)


def containment_pairs(
    universe: DataFrame,
    threshold: float = 0.9,
    max_df_frac: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, n_shared, containment) — library form of
    neardup_containment. Candidates are generated from the per-token
    self-join restricted to below-cap tokens (``max_df_frac``; the
    text_analysis df-cap, pass ``TEXT_MAX_DF_FRAC`` for the production
    default), then each candidate pair is verified exactly by
    intersecting the two full distinct-token sets — one join back to the
    texts, paid per candidate pair, never per all-pairs. ``None``
    disables the cap (the registered demo path: its universe is bounded
    and duplicate-free, so the uncapped join is exact AND small; the
    capped==uncapped identity on that universe is test-asserted)."""
    from avro_parquet_spark_example_spark.operators.text_analysis import (
        df_capped_terms,
    )

    toks = universe.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(text_col, " "))).alias("term"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    cand_toks = toks
    if max_df_frac is not None:
        cand_toks = toks.join(df_capped_terms(toks, max_df_frac), "term")
    a = cand_toks.alias("a")
    b = cand_toks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("b.term") == F.col("a.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    ta = universe.select(
        F.col(id_col).alias("id_a"),
        F.array_distinct(F.split(text_col, " ")).alias("__ta"),
    )
    tb = universe.select(
        F.col(id_col).alias("id_b"),
        F.array_distinct(F.split(text_col, " ")).alias("__tb"),
    )
    n_shared = F.size(F.array_intersect("__ta", "__tb"))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_terms").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_terms").alias("nb"))
    cont = F.col("n_shared") * 1.0 / F.least(F.col("na"), F.col("nb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", n_shared.alias("n_shared"))
        .join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(cont >= threshold)
        .select(
            "id_a", "id_b", "n_shared", F.round(cont, 6).alias("containment")
        )
    )


@register(
    "dedup_exact_quality_pick",
    oracle="""
    WITH base AS (
        SELECT doc_id, text, lang FROM documents WHERE text IS NOT NULL
    ),
    inj AS (
        SELECT * FROM base
        UNION ALL
        SELECT doc_id + 100000, text, lang FROM base WHERE doc_id < 50
    ),
    scored AS (
        SELECT doc_id, lang, lower(trim(text)) AS norm,
               len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               w -> strlen(w) >= 5)) AS quality
        FROM inj
    )
    SELECT norm_hash, doc_id AS canonical_doc, quality, group_size
    FROM (
        SELECT MD5(norm) AS norm_hash, doc_id, quality,
               COUNT(*) OVER (PARTITION BY norm) AS group_size,
               ROW_NUMBER() OVER (PARTITION BY norm
                                  ORDER BY quality DESC, doc_id) AS rn
        FROM scored
    ) WHERE rn = 1 AND group_size >= 2
    """,
)
def dedup_exact_quality_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1b — QUALITY-AWARE canonical selection: exact dedup normally keeps
    the lowest id (dedup_exact) — fine for byte-identical copies, but
    near-canonical groups (same normalized text, different metadata)
    should keep the BEST member. Here the winner is the doc with the most
    ≥5-char words (a stand-in for any quality score — the Gopher
    counters slot straight in), tiebreak doc_id; only groups with real
    duplicates (size ≥ 2 — the injected copies) are reported. Same
    hash-key shuffle as dedup_exact (32-byte md5 group keys in the
    output; the window partitions on the normalized text itself, which
    at production scale you'd replace with its hash — value-identical
    here by md5 collision-freedom over the fixture).

    The plan is one window over the dedup key — identical cost to
    keep-lowest-id; quality-aware selection is free once a score column
    exists, which is why pipelines should never settle for min(id)."""
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text", "lang")
    )
    inj = with_injected_duplicates(base)
    norm = F.lower(F.trim(F.col("text")))
    quality = F.size(
        F.filter(
            F.split(norm, r"\s+"), lambda w: F.length(w) >= 5
        )
    )
    scored = inj.select(
        "doc_id",
        norm.alias("norm"),
        quality.alias("quality"),
    )
    w = Window.partitionBy("norm")
    wo = w.orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        scored.withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(wo))
        .filter((F.col("rn") == 1) & (F.col("group_size") >= 2))
        .select(
            F.md5("norm").alias("norm_hash"),
            F.col("doc_id").alias("canonical_doc"),
            "quality",
            "group_size",
        )
    )


@register(
    "dedup_threshold_sweep",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS tok
        FROM documents WHERE doc_id < 150
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT 10 * c // (sa.sz + sb.sz - c) AS decile
        FROM pairs
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
    ),
    grid AS (SELECT UNNEST([5, 6, 7, 8, 9]) AS thr10)
    SELECT g.thr10 * 1.0 / 10 AS threshold,
           CAST(COALESCE(SUM(CASE WHEN j.decile >= g.thr10
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_pairs
    FROM grid g LEFT JOIN jac j ON TRUE
    GROUP BY g.thr10
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2g — dedup threshold TUNING table: how many candidate pairs
    survive at Jaccard ≥ 0.5/0.6/0.7/0.8/0.9 — the sweep a data engineer
    runs before committing a near-dup threshold (too low merges distinct
    docs; too high leaves templates in; the elbow of this curve is the
    decision). Jaccard is bucketed by EXACT integer cross-multiplication
    (``10·c // (sa+sb−c)`` — no float comparison anywhere near the
    threshold boundary, which is precisely where a float would flip), so
    the counts are engine-identical; pairs come from the same bounded
    inverted-index join as neardup_jaccard.

    At 100 TB the sweep reuses the banded-LSH candidate set instead of
    the exact pair join — one pass, five counters, same decision
    table."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok"),
    ).distinct()
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = toks.alias("a"), toks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("pa"), F.col("b.doc_id").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("pa"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("pb"), F.col("sz").alias("szb"))
    jac = (
        pairs.join(sa, "pa")
        .join(sb, "pb")
        .select(
            F.expr("(10 * c) div (sza + szb - c)").alias("decile")
        )
    )
    grid = spark.createDataFrame([(t,) for t in (5, 6, 7, 8, 9)], "thr10 int")
    return (
        F.broadcast(grid)
        .crossJoin(jac)
        .groupBy("thr10")
        .agg(
            F.sum(
                F.when(F.col("decile") >= F.col("thr10"), 1).otherwise(0)
            ).alias("n_pairs")
        )
        .select(
            (F.col("thr10") * 1.0 / 10).alias("threshold"),
            F.col("n_pairs"),
        )
    )


@register(
    "dedup_lsh_scurve",
    oracle=f"""
    SELECT g.j * 1.0 / 20 AS jaccard,
           ROUND(1 - POW(1 - POW(g.j * 1.0 / 20, {ROWS_PER_BAND}),
                         {N_BANDS}), 6) AS p_candidate
    FROM GENERATE_SERIES(1, 19) g(j)
    """,
)
def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2h — the LSH banding S-CURVE for THIS engine's configuration
    (16 bands × 4 rows over 64 MinHashes): the candidate probability
    ``P = 1 − (1 − J^r)^b`` at Jaccard 0.05..0.95 — the table an
    engineer reads before trusting the near-dup pass (where is the 50%
    threshold? how sharp is the transition? what slips through at
    J = 0.4?). Computing it as an oracle-checked query does two jobs:
    it documents the configured banding IN the registry (the constants
    are imported, not copied, so retuning N_BANDS re-derives the curve),
    and it pins pow() parity between engines on the exact expressions the
    dedup math relies on.

    Pure generate_series computation — no table scan; the curve is the
    same at any corpus size, which is rather the point of banding."""
    g = spark.range(1, 20).select((F.col("id") * 1.0 / 20).alias("jaccard"))
    return g.select(
        "jaccard",
        F.round(
            1
            - F.pow(
                1 - F.pow(F.col("jaccard"), F.lit(ROWS_PER_BAND)),
                F.lit(N_BANDS),
            ),
            6,
        ).alias("p_candidate"),
    )


@register(
    "eval_dedup_pair_metrics",
    oracle=r"""
    WITH pool AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 50
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
    ),
    d AS (
        SELECT doc_id, LOWER(TRIM(text)) AS t FROM pool
        WHERE text IS NOT NULL
    ),
    tk AS (
        SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT_REGEX(t, '\s+')) AS tok
        FROM d
    ),
    tsz AS (SELECT doc_id, COUNT(*) AS sz FROM tk GROUP BY doc_id),
    tc AS (
        SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        FROM tk a JOIN tk b ON b.tok = a.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    p AS (
        SELECT a, b FROM tc
        JOIN tsz sa ON sa.doc_id = a
        JOIN tsz sb ON sb.doc_id = b
        WHERE 9 * c >= 4 * (sa.sz + sb.sz)
    ),
    toks2 AS (SELECT doc_id, STRING_SPLIT_REGEX(t, '\s+') AS toks FROM d),
    sh AS (
        SELECT DISTINCT doc_id,
               ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 2), ' ') AS s
        FROM toks2,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(toks) - 2, 1))) AS t(i)
    ),
    ssz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    sc AS (
        SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        FROM sh a JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    g AS (
        SELECT a, b FROM sc
        JOIN ssz sa ON sa.doc_id = a
        JOIN ssz sb ON sb.doc_id = b
        WHERE 17 * c >= 7 * (sa.sz + sb.sz)
    ),
    m AS (
        SELECT p.a AS pa, g.a AS ga
        FROM p FULL JOIN g ON g.a = p.a AND g.b = p.b
    ),
    cnt AS (
        SELECT COUNT(CASE WHEN pa IS NOT NULL AND ga IS NOT NULL THEN 1 END) AS tp,
               COUNT(CASE WHEN pa IS NOT NULL AND ga IS NULL THEN 1 END) AS fp,
               COUNT(CASE WHEN pa IS NULL AND ga IS NOT NULL THEN 1 END) AS fn
        FROM m
    )
    SELECT tp, fp, fn,
           ROUND(tp * 1.0 / (tp + fp), 6) AS precision_,
           ROUND(tp * 1.0 / (tp + fn), 6) AS recall_,
           ROUND(2.0 * tp / (2 * tp + fp + fn), 6) AS f1
    FROM cnt
    """,
)
def eval_dedup_pair_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2-eval — dedup-detector evaluation: score a CHEAP pair detector
    (distinct-unigram Jaccard ≥ 4/5) against the reference truth an
    expensive detector defines (3-word-shingle Jaccard ≥ 0.7, the
    ``dedup_minhash_verified`` gate) as pair-level tp/fp/fn +
    precision/recall/F1 — the QA step a pipeline runs before swapping in
    a cheaper candidate stage. Both similarity thresholds are evaluated
    as cross-multiplied INTEGER comparisons (9c ≥ 4(sa+sb) and 17c ≥
    7(sa+sb)) on both engines, so the confusion counts are hash-exact;
    the ratio columns are ROUND(·, 6) doubles on both sides.

    Both detectors run over the deterministic injected universe (the
    ``in_injected_universe`` 100-doc contract — at scale this is the
    labeled eval slice, not the corpus) via inverted-index self-joins:
    pairs form per shared token/shingle, never all-pairs, and the
    confusion matrix is one full-outer join of the two pair sets."""
    docs = (
        with_injected_duplicates(
            load(spark, sf_dir, "documents").select("doc_id", "text")
        )
        .filter(in_injected_universe("doc_id"))
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.lower(F.trim(F.col("text"))).alias("t"))
        .localCheckpoint(eager=True)  # <=100 rows; feeds both detectors
    )

    def pair_set(exploded: DataFrame, num: int, den: int) -> DataFrame:
        """(a, b) pairs with |A∩B|/|A∪B| >= num/den, integer-exact."""
        sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        a = exploded.select(F.col("doc_id").alias("a"), "u")
        b = exploded.select(F.col("doc_id").alias("b"), "u")
        common = (
            a.join(b, "u")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            common.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sa")), "a")
            .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sb")), "b")
            .filter(
                (den + num) * F.col("c") >= num * (F.col("sa") + F.col("sb"))
            )
            .select("a", "b")
        )

    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("t"), r"\s+"))).alias("u"),
    )
    pred = pair_set(toks, 4, 5)  # unigram jaccard >= 4/5: 9c >= 4(sa+sb)
    sh = with_shingles(docs, text_col="t").select(
        "doc_id", F.explode("sh").alias("u")
    )
    gold = pair_set(sh, 7, 10)  # shingle jaccard >= 0.7: 17c >= 7(sa+sb)

    m = pred.withColumn("p", F.lit(1)).join(
        gold.withColumn("g", F.lit(1)), ["a", "b"], "full"
    )
    tp = F.count(F.when(F.col("p").isNotNull() & F.col("g").isNotNull(), 1))
    fp = F.count(F.when(F.col("p").isNotNull() & F.col("g").isNull(), 1))
    fn = F.count(F.when(F.col("p").isNull() & F.col("g").isNotNull(), 1))
    return m.agg(tp.alias("tp"), fp.alias("fp"), fn.alias("fn")).select(
        "tp",
        "fp",
        "fn",
        F.round(F.col("tp") * 1.0 / (F.col("tp") + F.col("fp")), 6).alias(
            "precision_"
        ),
        F.round(F.col("tp") * 1.0 / (F.col("tp") + F.col("fn")), 6).alias(
            "recall_"
        ),
        F.round(
            2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        ).alias("f1"),
    )




# ---------------------------------------------------------------------------
# H2g — exact shingle-Jaccard join via PREFIX FILTERING (PPJoin candidates)

#: Jaccard threshold on word-bigram shingle sets. Exact, not approximate.
PREFIX_JACCARD_T = 0.6

#: Doc-id bound keeping the ORACLE's naive inverted-index check cheap; the
#: engine plan is the one you'd run uncapped (that's the operator's point —
#: candidates come from rare prefix shingles, not every shingle).
PREFIX_JACCARD_MAX_DOC = 400


@register(
    "neardup_jaccard_prefix_filter",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id < {PREFIX_JACCARD_MAX_DOC}
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
    ),
    d AS (
        SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS ws
        FROM base
    ),
    toks AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_filter(
                   list_transform(ws, (x, i) ->
                       IF(i < LEN(ws), x || ' ' || ws[i + 1], NULL)),
                   s -> s IS NOT NULL)) AS tok
        FROM d
    ),
    {_jaccard_pairs_duck(PREFIX_JACCARD_T)}""",
)
def neardup_jaccard_prefix_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H2g — EXACT shingle-Jaccard ≥ t pairs with PPJoin-style prefix
    filtering (Chaudhuri/Ganti/Kaushik ICDE'06; Xiao et al. WWW'08).
    Documents are shingled into DISTINCT word bigrams (the vocabulary
    blow-up that makes "rare" mean something — single tokens from a
    small vocab defeat any frequency-based pruning, measured: unigram
    prefixes pruned 0.6%, bigram shingles cut the candidate join's
    fan-out 3.5× on this corpus). Each doc then joins only on its
    PREFIX — its ``|d| − ⌈t·|d|⌉ + 1`` globally-rarest shingles
    (df-ascending, shingle as tiebreak). The prefix-filtering principle
    makes candidates LOSSLESS: a pair with J ≥ t has ≥ t·|a| shared
    shingles, so the ≤ (1−t)·|a| shingles of ``a`` missing from ``b``
    cannot cover a's whole prefix (and symmetrically under one total
    order), hence the prefixes share a shingle. True intersection counts
    are then computed only for candidate pairs (joins keyed on the
    pair's doc ids), and the exact threshold filter runs last — output
    is bit-identical to the naive plan, which is exactly what the
    ORACLE runs.

    Scale: df aggregate (map-side combined), per-doc ranking window
    (partitioned by doc, never global), prefix-shingle equi-join,
    candidate-keyed verify joins. The stop-token df² hazard is gone by
    construction — a shingle joins only while it is among a doc's
    rarest few."""
    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < PREFIX_JACCARD_MAX_DOC)
        .select("doc_id", "text")
    )
    toks = (
        docs.withColumn("ws", F.split(F.lower(F.trim(F.col("text"))), " "))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "filter(transform(ws, (x, i) -> "
                        "IF(i < size(ws) - 1, concat(x, ' ', ws[i + 1]), "
                        "NULL)), s -> s IS NOT NULL)"
                    )
                )
            ).alias("tok"),
        )
    )
    # the universe is doc_id-capped (PREFIX_JACCARD_MAX_DOC) so the
    # distinct-shingle frame is bounded; materialize it once — toks
    # feeds dfreq/sizes/prefix and both verification sides, 20 pushed-
    # filter scans in the lazy plan (r15)
    toks = toks.localCheckpoint(eager=True)
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("tok"))
    prefix = (
        toks.join(dfreq, "tok")
        .withColumn("r", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(
            F.col("r")
            <= F.col("sz")
            - F.ceil(F.lit(PREFIX_JACCARD_T) * F.col("sz"))
            + 1
        )
        .select("doc_id", "tok")
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cands = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("a"), F.col("pb.doc_id").alias("b")
        )
        .distinct()
    )
    ta, tb = toks.alias("ta"), toks.alias("tb")
    common = (
        cands.join(ta, F.col("ta.doc_id") == F.col("a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("b"))
            & (F.col("tb.tok") == F.col("ta.tok")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") * 1.0 / (F.col("sa.sz") + F.col("sb.sz") - F.col("c"))
    return (
        common.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("b"))
        .filter(jac >= PREFIX_JACCARD_T)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "dedup_cluster_size_histogram",
    oracle="""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50
    ),
    groups AS (
        SELECT LOWER(TRIM(text)) AS k, CAST(COUNT(*) AS BIGINT) AS sz
        FROM all_docs GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs
    FROM groups GROUP BY sz
    """,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H1' — duplicate-cluster size histogram: how many exact-dup groups
    of each size the corpus holds (size 1 = unique docs) — the
    survivorship report every dedup run ships with (the difference
    between "2% duplicates spread thin" and "one document pasted 10⁶
    times" is invisible in the dedup RATE but decisive for
    training-data quality, and it IS this histogram's tail). Same
    injected-duplicate fixture and ``normalized_text_key`` as
    ``dedup_exact`` — one key definition, so the histogram and the
    dedup itself can never disagree.

    Scale shape: 32-byte key shuffle (texts never move), then a
    histogram over GROUP SIZES — a second map-side-combined aggregate
    whose domain is tiny. One scan at any volume."""
    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return cluster_size_histogram(docs, text_col="text")


def cluster_size_histogram(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(cluster_size, n_clusters, n_docs) exact-dup group-size histogram
    by the canonical normalized-text key — the library form the Engine
    facade exposes; ``dedup_cluster_size_histogram`` is its registered
    oracle-checked instance (facade-parity single-source rule)."""
    groups = df.groupBy(
        normalized_text_key(text_col).alias("k")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    return groups.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
    )
