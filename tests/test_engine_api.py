"""The user-facing Engine facade: each reference workflow step through the
public API (SURVEY.md §0 steps 1-4 mapped to library calls)."""

from __future__ import annotations

from avro_parquet_spark_example_spark.engine import Engine
from avro_parquet_spark_example_spark.registry import get_query


def _engine(spark, sf_dir):
    return Engine(spark=spark, sf_dir=sf_dir)


def test_table_and_sql(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    assert eng.table("nation").count() == 25
    [row] = eng.sql("SELECT COUNT(*) AS n FROM region").collect()
    assert row.n == 5


def test_avro_schema_read_and_write_roundtrip(spark, sf_dir, tmp_path):
    eng = _engine(spark, sf_dir)
    out = str(tmp_path / "docs.parquet")
    eng.write_parquet(eng.table("documents"), out, partition_by="lang")
    schema = {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "n_chars", "type": ["long", "null"]},
        ],
    }
    back = eng.read_with_avro_schema(schema, out)
    assert back.count() == eng.table("documents").count()
    # declared Avro fields + the hive partition column discovery appends
    assert set(back.columns) == {"doc_id", "n_chars", "lang"}


def test_dedup_and_search(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "A b c d e f g "), (3, "totally different words here")],
        ["doc_id", "text"],
    )
    assert eng.dedup_exact(docs).count() == 2
    fp = {r.doc_id: r.fingerprint for r in eng.simhash(docs).collect()}
    assert fp[1] == fp[2]  # same tokens after normalization → same fingerprint
    assert fp[1] != fp[3]
    emb = eng.table("embeddings")
    [qrow] = emb.filter("vec_id = 0").select("embedding").collect()
    hits = eng.search_topk(emb.filter("vec_id <> 0"), [float(x) for x in qrow.embedding], k=5)
    rows = hits.collect()
    assert len(rows) == 5
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_cluster_redact_split(spark, sf_dir):
    from avro_parquet_spark_example_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)

    clustered = eng.cluster(eng.table("embeddings"), k=4)
    assert clustered.columns == ["vec_id", "cluster", "sq_dist"]
    n_clusters = clustered.select("cluster").distinct().count()
    assert 1 <= n_clusters <= 4
    assert clustered.count() == eng.table("embeddings").count()

    docs = eng.table("documents")
    red = eng.redact_pii(docs, extra_patterns=[r"\bcustomer\b"])
    assert red.filter(red.text.contains("[REDACTED]")).count() > 0
    # default patterns leave PII-free text unchanged
    assert eng.redact_pii(docs).selectExpr("sum(length(text))").collect()[0][
        0
    ] == docs.selectExpr("sum(length(text))").collect()[0][0]

    sp = eng.split(docs)
    counts = dict(sp.groupBy("split").count().rdd.map(lambda r: (r[0], r[1])).collect())
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"]
    # deterministic: same assignment on recompute
    assert sp.exceptAll(eng.split(docs)).count() == 0

    import pytest

    with pytest.raises(ValueError):
        eng.split(docs, weights=(10, 3, 2))


def test_chunk_and_shuffle_export(spark, sf_dir):
    from avro_parquet_spark_example_spark.engine import Engine

    eng = Engine(spark, sf_dir=sf_dir)
    docs = eng.table("documents")

    chunks = eng.chunk(docs, chunk=100, stride=80)
    assert chunks.columns == ["doc_id", "chunk_id", "chunk", "chunk_len"]
    assert chunks.filter(chunks.chunk_len > 100).count() == 0
    # every doc contributes at least its first chunk
    assert chunks.select("doc_id").distinct().count() == docs.count()

    out = eng.shuffle_export(docs.select("doc_id", "lang"))
    assert {"shuffle_key", "shard"} <= set(out.columns)
    assert out.count() == docs.count()
    # same seed → identical keying; different seed → different order
    again = eng.shuffle_export(docs.select("doc_id", "lang"))
    assert out.exceptAll(again).count() == 0
    other = eng.shuffle_export(docs.select("doc_id", "lang"), seed=7)
    assert out.select("doc_id", "shuffle_key").exceptAll(
        other.select("doc_id", "shuffle_key")
    ).count() > 0


def test_engine_dedup_substrings(spark, sf_dir):
    eng = _engine(spark, sf_dir)
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "z y a b c d e f g h i j w"),  # contains doc 1's run
            (3, "totally different words with no shared runs at all here"),
        ],
        ["doc_id", "text"],
    )
    spans = {r.doc_id: (r.span_start, r.span_end)
             for r in eng.dedup_substrings(docs, k=8).collect()}
    # doc 2 repeats doc 1's 10-token run at tokens 2..11: duplicate windows
    # at positions 2, 3, 4 merge into one span [2, 12)
    assert spans == {2: (2, 12)}


def test_engine_dedup_semantic_matches_query(spark, sf_dir):
    """Facade and oracle-checked query share one implementation — byte-equal
    output on the fixture embeddings."""
    from avro_parquet_spark_example_spark.registry import all_queries

    eng = _engine(spark, sf_dir)
    via_engine = sorted(map(tuple, eng.dedup_semantic(eng.table("embeddings")).collect()))
    via_query = sorted(map(tuple, all_queries()["dedup_semantic_cell"](spark, sf_dir).collect()))
    assert via_engine == via_query and via_engine


def test_engine_dedup_incremental(spark, sf_dir):
    """Every batch doc that is an exact copy of a corpus doc must match its
    source with jaccard 1.0; batch docs with no near-source produce no row."""
    from pyspark.sql import functions as F

    eng = _engine(spark, sf_dir)
    docs = eng.table("documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 900000
    )
    matches = eng.dedup_incremental(docs, batch).collect()
    exact = {(r.corpus_id, r.batch_id) for r in matches if r.jaccard == 1.0}
    for i in range(10):
        assert (i, i + 900000) in exact, f"copy of doc {i} must match its source"


def test_engine_resample_temperature_flattens(spark, sf_dir):
    """alpha=0.5 must keep a HIGHER fraction of the rarest domain than of
    the most common one (that is the point of temperature flattening), and
    the selection must be deterministic across calls."""
    from pyspark.sql import functions as F

    eng = _engine(spark, sf_dir)
    docs = eng.table("documents")
    kept = eng.resample_temperature(docs, "lang")
    totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept_by = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    rates = {l: kept_by.get(l, 0) / n for l, n in totals.items()}
    rare = min(totals, key=totals.get)
    common = max(totals, key=totals.get)
    assert rates[rare] > rates[common]
    again = eng.resample_temperature(docs, "lang")
    assert kept.select("doc_id").exceptAll(again.select("doc_id")).count() == 0


def test_engine_select_dsir_matches_query(spark, sf_dir):
    """Facade (target = en, lang carried) and the oracle-checked query share
    one implementation — identical selections. Also pins a scoring
    property: under self-target the per-doc scores collapse toward zero
    (|avg| bounded by the add-1 smoothing term), unlike a real target
    split which separates domains."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.operators.curation import dsir_selected
    from avro_parquet_spark_example_spark.registry import all_queries

    eng = _engine(spark, sf_dir)
    docs = eng.table("documents")
    via_engine = sorted(
        map(
            tuple,
            dsir_selected(
                docs, F.col("lang") == "en", id_col="doc_id", keep_cols=["lang"]
            ).collect(),
        )
    )
    via_query = sorted(
        map(tuple, all_queries()["curation_dsir_importance"](spark, sf_dir).collect())
    )
    assert via_engine == via_query and via_engine

    # self-target: every ratio is ln(1+1/c_w) - ln(1+V/R) per token — tiny
    self_scores = eng.select_dsir(docs, F.lit(True)).collect()
    assert all(abs(r.avg_log_ratio) < 0.05 for r in self_scores)


def test_engine_graph_and_retrieval_parity(spark, sf_dir):
    """The facade's graph/retrieval methods share single-source
    implementations with the registered oracle-checked queries — call
    both and assert identical results (the facade-parity rule every
    other Engine method follows)."""
    from avro_parquet_spark_example_spark.registry import all_queries

    eng = _engine(spark, sf_dir)
    qs = all_queries()

    edges = eng.cooccurrence_graph()
    via_engine = sorted(map(tuple, eng.pagerank(edges).collect()))
    via_query = sorted(map(tuple, qs["graph_pagerank"](spark, sf_dir).collect()))
    assert via_engine == via_query and via_engine

    via_engine = sorted(
        map(tuple, eng.sparse_topk(eng.table("documents"), 0, k=10).collect())
    )
    via_query = sorted(
        map(tuple, qs["text_sparse_cosine_topk"](spark, sf_dir).collect())
    )
    assert via_engine == via_query and via_engine

    tri = eng.triangles(edges).collect()
    assert all(r.n_triangles > 0 for r in tri)


def test_engine_quality_blocklist_sessionize_bfs_facade_parity(spark, sf_dir):
    """quality_gate / blocklist_filter / sessionize / bfs share
    single-source implementations with their oracle-checked queries."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.registry import all_queries
    from avro_parquet_spark_example_spark.sources.catalog import ts_us

    eng = _engine(spark, sf_dir)
    qs = all_queries()
    docs = eng.table("documents").filter(F.col("text").isNotNull())

    via_engine = sorted(map(tuple, eng.quality_gate(docs).collect()))
    via_query = sorted(
        map(tuple, qs["curation_gopher_rules"](spark, sf_dir).collect())
    )
    assert via_engine == via_query and via_engine

    via_engine = sorted(
        map(
            tuple,
            eng.blocklist_filter(
                docs, ("spark", "vector", "customer"), id_cols=["doc_id", "lang"]
            ).collect(),
        )
    )
    via_query = sorted(
        map(tuple, qs["curation_blocklist_filter"](spark, sf_dir).collect())
    )
    assert via_engine == via_query and via_engine

    e = eng.table("events")
    ev = e.select(F.col("user_id").alias("u"), ts_us(e).alias("ts"))
    via_engine = sorted(map(tuple, eng.sessionize(ev).collect()))
    via_query = sorted(
        map(tuple, qs["ts_sessionize_capped"](spark, sf_dir).collect())
    )
    assert via_engine == via_query and via_engine

    sym_edges = eng.cooccurrence_graph()
    sym = sym_edges.selectExpr("u AS src", "v AS dst").unionByName(
        sym_edges.selectExpr("v AS src", "u AS dst")
    )
    seeds = sym.select(F.col("src").alias("node")).filter(
        F.col("node") % 50 == 0
    ).distinct()
    via_engine = sorted(map(tuple, eng.bfs(sym, seeds).collect()))
    via_query = sorted(map(tuple, qs["graph_bfs_hops"](spark, sf_dir).collect()))
    assert via_engine == via_query and via_engine


def test_engine_entities_knn_silhouette_bipartite_facade_parity(spark, sf_dir):
    """The r10 facade methods return the same results as the registered
    queries / library ops they wrap: entity clusters == er_match_clusters,
    exact knn_graph (1-cell degenerate IVF) == vec_knn_graph on the same
    pool, sampled silhouette == vec_cluster_silhouette_sampled, bipartite
    projection == graph_bipartite_projection."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.operators.entity import er_records
    from avro_parquet_spark_example_spark.operators.graph import (
        BIPART_MAX_PART,
    )
    from avro_parquet_spark_example_spark.operators.simsearch import (
        KNN_GRAPH_MAX_VEC,
    )
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)

    got = {
        (r.id, r.cluster_id, r.is_golden)
        for r in eng.resolve_entities(
            er_records(load(spark, sf_dir, "customer")),
            on_oversized="error",
        ).collect()
    }
    want = {
        (r.id, r.cluster_id, r.is_golden)
        for r in get_query("er_match_clusters").fn(spark, sf_dir).collect()
    }
    assert got == want

    pool = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < KNN_GRAPH_MAX_VEC)
        .select("vec_id", "embedding")
    )
    got_g = sorted(
        map(tuple, eng.knn_graph(pool, exact=True).collect())
    )
    want_g = sorted(
        map(tuple, get_query("vec_knn_graph").fn(spark, sf_dir).collect())
    )
    assert got_g == want_g

    vecs = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    got_s = sorted(
        map(tuple, eng.silhouette(vecs, sample_hex="4000").collect())
    )
    want_s = sorted(
        map(
            tuple,
            get_query("vec_cluster_silhouette_sampled")
            .fn(spark, sf_dir)
            .collect(),
        )
    )
    assert got_s == want_s

    m = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < BIPART_MAX_PART)
        .select(
            F.col("l_partkey").alias("part"),
            F.col("l_suppkey").alias("supp"),
        )
        .distinct()
    )
    got_b = sorted(
        map(tuple, eng.project_bipartite(m, on_oversized="error").collect())
    )
    want_b = sorted(
        map(
            tuple,
            get_query("graph_bipartite_projection")
            .fn(spark, sf_dir)
            .collect(),
        )
    )
    assert got_b == want_b


def test_engine_kcenter_clustering_coefficients_facade_parity(spark, sf_dir):
    """The r11 facade methods return the same results as the registered
    queries they wrap (the facade-parity single-source rule):
    kcenter_seeds == cluster_kcenter_greedy, clustering_coefficients on
    the capped co-occurrence edges == graph_clustering_coefficient."""
    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.operators.graph import (
        TRI_MAX_USER,
        cooccurrence_edges,
    )
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)

    got_k = sorted(
        map(
            tuple,
            eng.kcenter_seeds(load(spark, sf_dir, "embeddings")).collect(),
        )
    )
    want_k = sorted(
        map(
            tuple,
            get_query("cluster_kcenter_greedy").fn(spark, sf_dir).collect(),
        )
    )
    assert got_k == want_k

    edges = cooccurrence_edges(spark, sf_dir, max_user=TRI_MAX_USER)
    got_c = sorted(map(tuple, eng.clustering_coefficients(edges).collect()))
    want_c = sorted(
        map(
            tuple,
            get_query("graph_clustering_coefficient")
            .fn(spark, sf_dir)
            .collect(),
        )
    )
    assert got_c == want_c


def test_engine_correlation_hhi_stump_facade_parity(spark, sf_dir):
    """The generic statistics facade methods reproduce their registered
    oracle-checked instances when pointed at the same fixture columns
    (single-source rule): spearman/kendall on lineitem, MI on orders,
    HHI on the nation revenue frame, decision_stump on the discount
    split."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    li = load(spark, sf_dir, "lineitem")

    got = sorted(
        map(
            tuple,
            eng.spearman(
                li, x="l_quantity", y="l_discount", group="l_returnflag"
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            get_query("agg_spearman_rank_corr").fn(spark, sf_dir).collect(),
        )
    )
    assert got == want

    got = sorted(
        map(
            tuple,
            eng.kendall(
                li, x="l_quantity", y="l_discount", group="l_returnflag"
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, get_query("agg_kendall_tau_b").fn(spark, sf_dir).collect())
    )
    assert got == want

    base = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        "o_orderpriority",
        "o_orderstatus",
    )
    got = sorted(
        map(
            tuple,
            eng.mutual_information(
                base, x="o_orderpriority", y="o_orderstatus", segment="yr"
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            get_query("agg_mutual_information").fn(spark, sf_dir).collect(),
        )
    )
    assert got == want

    su = load(spark, sf_dir, "supplier")
    na = load(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("l_suppkey").alias("supp"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    got = sorted(
        map(tuple, eng.hhi(rev, group="nation", amount="cents").collect())
    )
    want = sorted(
        map(
            tuple,
            get_query("agg_hhi_concentration").fn(spark, sf_dir).collect(),
        )
    )
    assert got == want

    got = sorted(
        map(
            tuple,
            eng.decision_stump(
                li.select(
                    "l_discount",
                    (F.col("l_returnflag") == "R").alias("is_returned"),
                ),
                feature="l_discount",
                target="is_returned",
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, get_query("ml_decision_stump").fn(spark, sf_dir).collect())
    )
    assert got == want


def test_engine_contingency_drift_text_confusion_facade_parity(spark, sf_dir):
    """The r12 facade methods reproduce their registered oracle-checked
    instances when pointed at the same fixture columns (single-source
    rule): cramers_v / cusum / rolling_median / lead_lag_xcorr / anova
    on the events day grid, log_odds + ttr_hapax on documents,
    assortativity on the co-occurrence edges, confusion/kappa/mcc on
    the embeddings nearest-centroid audit."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.operators.graph import (
        cooccurrence_edges,
    )
    from avro_parquet_spark_example_spark.operators.timeseries import (
        XCORR_MAX_LAG,
        XCORR_PAIR,
    )
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    e = load(spark, sf_dir, "events")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def want(key):
        return rows(get_query(key).fn(spark, sf_dir))

    got = eng.cramers_v(
        e.select(
            "event_type", F.dayofweek(F.col("ts").cast("date")).alias("dow")
        ),
        x="event_type",
        y="dow",
    )
    assert rows(got) == want("agg_cramers_v")

    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    assert rows(
        eng.cusum(daily, key="event_type", order="day", value="n")
    ) == want("ts_cusum_drift")
    assert rows(
        eng.rolling_median(daily, key="event_type", order="day", value="n")
    ) == want("ts_rolling_median_trend")

    lead = daily.filter(F.col("event_type") == XCORR_PAIR[0]).select(
        "day", F.col("n").alias("x")
    )
    lagf = daily.filter(F.col("event_type") == XCORR_PAIR[1]).select(
        "day", F.col("n").alias("x")
    )
    assert rows(eng.lead_lag_xcorr(lead, lagf, max_lag=XCORR_MAX_LAG)) == want(
        "ts_lead_lag_xcorr"
    )

    dow_daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    assert rows(
        eng.anova(dow_daily, segment="event_type", group="dow", value="n")
    ) == want("ts_anova_weekday")

    d = load(spark, sf_dir, "documents")
    assert rows(
        eng.log_odds(
            d.withColumn("is_a", F.col("lang") == "en"),
            text="text",
            flag="is_a",
        )
    ) == want("text_log_odds_monroe")
    assert rows(eng.ttr_hapax(d, text="text", group="lang")) == want(
        "text_ttr_hapax"
    )

    assert rows(eng.assortativity(cooccurrence_edges(spark, sf_dir))) == want(
        "graph_degree_assortativity"
    )

    li = load(spark, sf_dir, "lineitem")
    assert rows(
        eng.percent_rank_cume(
            li, partition_by="l_returnflag", order_by="l_quantity"
        )
    ) == want("window_percent_rank_cume")

    emb = load(spark, sf_dir, "embeddings")
    conf = eng.confusion(emb)
    assert rows(conf) == want("vec_nearest_centroid_assign")
    assert rows(eng.kappa(conf)) == want("eval_cohens_kappa")
    assert rows(eng.mcc(conf)) == want("eval_mcc_multiclass")


def test_mcc_absent_class_marginals(spark):
    """Regression for ADVICE r11 #1: a class that is NEVER predicted must
    still contribute its t_k^2 term to MCC's sum_tt (and a never-true
    class its p_k^2 to sum_pp). Confusion fixture: 3 true classes, the
    classifier collapses class 2 into class 1 (class 2 never predicted).
    The expected value is the Gorodkin R_K over the union of labels —
    the pre-fix inner-join form would drop t_2^2 = 9 from sum_tt and
    overstate |MCC|."""
    import math

    from avro_parquet_spark_example_spark.engine import Engine

    conf = spark.createDataFrame(
        [(0, 0, 10), (1, 1, 5), (2, 1, 3), (2, 0, 1)],
        "true_label bigint, pred_label bigint, n bigint",
    )
    tk = {0: 10, 1: 5, 2: 4}
    pk = {0: 11, 1: 8}
    s, corr = 19, 15
    labels = set(tk) | set(pk)
    sum_pt = sum(tk.get(l, 0) * pk.get(l, 0) for l in labels)
    sum_tt = sum(t * t for t in tk.values())
    sum_pp = sum(p * p for p in pk.values())
    expect = (corr * s - sum_pt) / (
        math.sqrt(s * s - sum_pp) * math.sqrt(s * s - sum_tt)
    )
    got = Engine(spark=spark).mcc(conf).collect()[0]
    assert (got.n, got.corr) == (s, corr)
    assert abs(got.mcc - round(expect, 6)) < 1e-9

    # kappa on the same fixture: rc's inner join IS exact (absent
    # classes multiply by zero) — pin that too.
    rc = sum(tk.get(l, 0) * pk.get(l, 0) for l in labels)
    kexp = (s * corr - rc) / (s * s - rc)
    gk = Engine(spark=spark).kappa(conf).collect()[0]
    assert abs(gk.kappa - round(kexp, 6)) < 1e-9


def test_engine_inference_facade_parity(spark, sf_dir):
    """The inference-family facade methods reproduce their registered
    oracle-checked instances when pointed at the same fixture frames
    (single-source rule): pass_at_k / fleiss_kappa / jackknife_se /
    poisson_bootstrap / effect_sizes / power_mde / bradley_terry /
    forecast_backtest."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    e = load(spark, sf_dir, "events")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def want(key):
        return rows(get_query(key).fn(spark, sf_dir))

    per = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    assert rows(eng.pass_at_k(per)) == want("eval_pass_at_k")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ratings = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    assert rows(
        eng.fleiss_kappa(
            ratings, item="user_id", category="event_type", n_raters=5
        )
    ) == want("eval_fleiss_kappa")

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    per_cl = (
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
    assert rows(eng.jackknife_se(per_cl)) == want("stat_jackknife_cluster")

    q = e.select(
        "event_type",
        F.col("event_id").cast("bigint").alias("event_id"),
        F.floor(F.col("value") * 10000.0 + 0.5).cast("bigint").alias("q"),
    )
    # the registered instance appends the r14 `sampled` validation-scope
    # column (ADVICE r13 #1); the library form stays scope-free — drop
    # it for the parity comparison
    reg_pb = rows(
        get_query("stat_poisson_bootstrap_ci")
        .fn(spark, sf_dir)
        .drop("sampled")
    )
    assert rows(eng.poisson_bootstrap(q)) == reg_pb

    two = e.select(
        "event_type",
        F.when(F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1)
        .otherwise(0)
        .alias("wk"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("q"),
    )
    assert rows(eng.effect_sizes(two)) == want("stat_effect_sizes")
    assert rows(eng.power_mde(two)) == want("stat_power_mde")

    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = daily.select(
        F.col("event_type").alias("i"), "day", F.col("n").alias("na")
    )
    b = daily.select(
        F.col("event_type").alias("j"), "day", F.col("n").alias("nb")
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
    assert rows(eng.bradley_terry(wins)) == want("eval_elo_bradley_terry")

    assert rows(
        eng.forecast_backtest(daily, key="event_type", order="day", value="n")
    ) == want("ts_forecast_backtest")


def test_engine_bleu_rouge_scc_trend_median_auc_facade_parity(spark, sf_dir):
    """r13 facade additions reproduce their registered oracle-checked
    instances when pointed at the same fixture frames (single-source
    rule): bleu_corpus / rouge_n / scc / piecewise_trend / median_ci /
    auc_bootstrap_cell."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def want(key):
        return rows(get_query(key).fn(spark, sf_dir))

    # BLEU / ROUGE over the same LEAD-paired fixture
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", F.expr("doc_id div 100")).orderBy(
        "doc_id"
    )
    pairs = (
        d.select("lang", "doc_id", F.col("text").alias("cand"))
        .withColumn("ref", F.lead("cand").over(w))
        .filter(F.col("ref").isNotNull())
    )
    assert rows(eng.bleu_corpus(pairs)) == want("eval_bleu_corpus")
    assert rows(eng.rouge_n(pairs)) == want("eval_rouge_n")

    # SCC over the same thresholded trade-edge fixture
    li, o = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    c, s = load(spark, sf_dir, "customer"), load(spark, sf_dir, "supplier")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = vol.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("n").cast("bigint").alias("total"),
    )
    edges = (
        vol.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * F.col("cnt") * 2 > 3 * F.col("total"))
        .select("src", "dst")
    )
    nodes = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    assert rows(eng.scc(edges, nodes)) == want("graph_scc")

    # piecewise trend over the same daily-count series
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    assert rows(
        eng.piecewise_trend(daily, key="event_type", order="day", value="n")
    ) == want("ts_piecewise_trend")

    # median CI over the same quantity column
    q = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("v"),
    )
    assert rows(eng.median_ci(q, group="flag", value="v")) == want(
        "agg_median_ci"
    )

    # cell-sufficiency AUC bootstrap over the same scored frame
    scored = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    assert rows(eng.auc_bootstrap_cell(scored)) == want(
        "eval_auc_bootstrap_cell_ci"
    )


def test_engine_paired_agreement_auc_brier_g_facade_parity(spark, sf_dir):
    """The six r13 inference additions' facade methods reproduce their
    registered oracle-checked instances (single-source rule): mcnemar /
    cochran_q / krippendorff_alpha / auc_delong_se /
    brier_decomposition / g_test."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    e = load(spark, sf_dir, "events")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def want(key):
        return rows(get_query(key).fn(spark, sf_dir))

    wk = (
        F.when(F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1)
        .otherwise(0)
    )
    hi = F.when(F.col("value") > 50, 1).otherwise(0)

    paired2 = e.select("event_type", hi.alias("ya"), wk.alias("yb"))
    assert rows(eng.mcnemar(paired2)) == want("eval_mcnemar_paired")

    paired3 = e.select(
        "event_type",
        hi.alias("ya"),
        wk.alias("yb"),
        F.when(F.col("event_id").cast("bigint") % 2 == 0, 1)
        .otherwise(0)
        .alias("yc"),
    )
    assert rows(eng.cochran_q(paired3)) == want("eval_cochran_q")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ratings = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    assert rows(
        eng.krippendorff_alpha(
            ratings, item="user_id", category="event_type", n_raters=5
        )
    ) == want("stat_krippendorff_alpha")

    scored = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    assert rows(eng.auc_delong_se(scored)) == want("eval_auc_delong_se")

    fc = e.select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("q"),
        wk.alias("o"),
    ).withColumn(
        "bin", F.least(F.lit(9).cast("bigint"), F.expr("q div 1000"))
    )
    assert rows(eng.brier_decomposition(fc)) == want(
        "eval_brier_decomposition"
    )

    tbl = e.select("event_type", wk.alias("wk"), hi.alias("hi"))
    assert rows(eng.g_test(tbl)) == want("stat_g_test")


def test_engine_rbo_facade_parity(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    d = load(spark, sf_dir, "documents")
    t1 = (
        d.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("n_chars"), F.asc("doc_id")))
            .alias("r1"),
        )
    )
    t2 = (
        d.select("doc_id", F.size(F.split("text", " ")).alias("ntok"))
        .orderBy(F.desc("ntok"), F.asc("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("ntok"), F.asc("doc_id")))
            .alias("r2"),
        )
    )
    got = sorted(map(tuple, eng.rbo(t1, t2).collect()))
    want = sorted(
        map(
            tuple,
            get_query("eval_rbo_rankings").fn(spark, sf_dir).collect(),
        )
    )
    assert got == want


def test_engine_cuped_mann_kendall_facade_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    e = load(spark, sf_dir, "events")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    cut = e.agg((F.min("ts") + F.expr("INTERVAL 15 DAYS")).alias("cut"))
    q = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
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
    assert rows(eng.cuped(per_user)) == rows(
        get_query("stat_cuped_adjustment").fn(spark, sf_dir)
    )

    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    assert rows(
        eng.mann_kendall(daily, key="event_type", order="day", value="x")
    ) == rows(get_query("ts_mann_kendall").fn(spark, sf_dir))


def test_engine_kendall_w_facade_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    counts = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("judge"),
            F.dayofweek(F.col("ts").cast("date")).alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    got = sorted(map(tuple, eng.kendall_w(counts).collect()))
    want = sorted(
        map(tuple, get_query("stat_kendall_w").fn(spark, sf_dir).collect())
    )
    assert got == want


def test_engine_rankstats_facade_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.operators.rankstats import _dow_spark
    from avro_parquet_spark_example_spark.sources.catalog import cents, load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    e = load(spark, sf_dir, "events")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def want(name):
        return rows(get_query(name).fn(spark, sf_dir))

    base_gv = e.select(
        "event_type", _dow_spark().alias("g"), cents().alias("v")
    )
    assert rows(eng.jonckheere_terpstra(base_gv)) == want(
        "stat_jonckheere_terpstra"
    )
    base_xy = e.select(
        "event_type",
        _dow_spark().alias("x"),
        F.least(F.lit(9), cents() / F.lit(1000)).cast("bigint").alias("y"),
    )
    assert rows(eng.gk_gamma_tau(base_xy)) == want("stat_gk_gamma_tau")
    assert rows(
        eng.mood_median(e.select("event_type", cents().alias("q")))
    ) == want("stat_mood_median")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents()).cast("bigint").alias("tq"))
    assert rows(eng.runs_test(daily)) == want("stat_runs_test")
    base_wk = e.select(
        "event_type",
        F.when(_dow_spark().isin(1, 7), 1).otherwise(0).alias("wk"),
        cents().alias("v"),
    )
    assert rows(eng.cliff_delta(base_wk)) == want("stat_cliff_delta")
    assert rows(eng.ks_two_sample(base_wk)) == want("stat_ks_two_sample")
    dec = F.least(F.lit(9), cents() / F.lit(1000)).cast("bigint")
    base_rr = e.select(
        "event_type",
        dec.alias("ra"),
        F.least(
            F.lit(9), dec + F.col("event_id").cast("bigint") % 2
        ).alias("rb"),
    )
    assert rows(eng.kappa_weighted(base_rr)) == want("eval_kappa_weighted")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.sum(cents()).cast("bigint").alias("s")
    )
    assert rows(eng.lorenz_curve(per_user)) == want("agg_lorenz_curve")
    assert rows(eng.brunner_munzel(base_wk)) == want("stat_brunner_munzel")
    li = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    assert rows(eng.auc_partial(li)) == want("eval_auc_partial")


def test_engine_kaplan_meier_facade_parity(spark, sf_dir):
    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.operators.survival import (
        _user_durations,
    )

    eng = Engine(spark=spark, sf_dir=sf_dir)
    got = sorted(
        map(tuple, eng.kaplan_meier(_user_durations(spark, sf_dir)).collect())
    )
    want = sorted(
        map(
            tuple,
            get_query("surv_kaplan_meier").fn(spark, sf_dir).collect(),
        )
    )
    assert got == want


def test_engine_survival_goodness_of_fit_facade_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.operators.survival import (
        _user_durations,
    )

    eng = Engine(spark=spark, sf_dir=sf_dir)
    subj = _user_durations(spark, sf_dir)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(eng.nelson_aalen(subj)) == rows(
        get_query("surv_nelson_aalen").fn(spark, sf_dir)
    )
    assert rows(eng.rmst(subj)) == rows(
        get_query("surv_rmst").fn(spark, sf_dir)
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wkbase = ev.select(
        "event_type",
        F.when(
            F.dayofweek(F.col("ts").cast("date")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("wk"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("v"),
    )
    assert rows(eng.cvm_two_sample(wkbase)) == rows(
        get_query("stat_cvm_two_sample").fn(spark, sf_dir)
    )
    cabase = ev.select(
        "event_type",
        F.dayofweek(F.col("ts").cast("date")).cast("bigint").alias("s"),
        F.when(
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint") >= 5000, 1
        )
        .otherwise(0)
        .alias("y"),
    )
    assert rows(eng.cochran_armitage(cabase)) == rows(
        get_query("stat_cochran_armitage").fn(spark, sf_dir)
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    assert rows(eng.hosmer_lemeshow(li)) == rows(
        get_query("eval_hosmer_lemeshow").fn(spark, sf_dir)
    )


def test_engine_robust_stats_acf_dim_variance_facade_parity(spark, sf_dir):
    """Facade methods reproduce the registered instances (single-source
    rule) for the round-12 robust-statistics family."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)
    li = load(spark, sf_dir, "lineitem")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def want(key):
        return rows(get_query(key).fn(spark, sf_dir))

    assert rows(
        eng.quantile_bands(li, group="l_returnflag", value="l_quantity")
    ) == want("agg_quantile_bands_exact")
    assert rows(
        eng.trimmed_mean(li, group="l_returnflag", value="l_quantity")
    ) == want("agg_trimmed_winsorized_mean")
    assert rows(
        eng.mad(li, group="l_returnflag", value="l_quantity")
    ) == want("agg_mad_robust")
    assert rows(
        eng.outlier_flags(li, group="l_returnflag", value="l_quantity")
    ) == want("dq_outlier_mad_flags")
    assert rows(
        eng.hl_shift(
            li.filter(F.col("l_returnflag") == "R").select("l_quantity"),
            li.filter(F.col("l_returnflag") == "A").select("l_quantity"),
            value="l_quantity",
        )
    ) == want("agg_hodges_lehmann_shift")

    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    assert rows(
        eng.autocorr(daily, key="event_type", order="day", value="n")
    ) == want("ts_autocorr_acf")

    emb = load(spark, sf_dir, "embeddings")
    got = (
        eng.dim_variance(emb)
        .orderBy(F.col("variance").desc(), "pos")
        .limit(8)
    )
    assert rows(got) == want("vec_dim_variance_topk")


def test_engine_cluster_sizes_fano_column_profile_facade_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.operators.dedup import (
        with_injected_duplicates,
    )
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def want(key):
        return rows(get_query(key).fn(spark, sf_dir))

    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    assert rows(eng.cluster_size_histogram(docs)) == want(
        "dedup_cluster_size_histogram"
    )

    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    assert rows(eng.fano(daily, key="event_type", value="n")) == want(
        "ts_burstiness_fano"
    )

    o = load(spark, sf_dir, "orders")
    rendered = {
        "o_totalprice": F.col("o_totalprice").cast("decimal(12,2)"),
        "o_orderdate": F.col("o_orderdate").cast("date"),
    }
    got = eng.column_profile(
        o,
        (
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ),
        rendered=rendered,
    )
    assert rows(got) == want("dq_column_profile")


def test_engine_calibration_brier_theil_sen_facade_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.engine import Engine
    from avro_parquet_spark_example_spark.sources.catalog import load

    eng = Engine(spark=spark, sf_dir=sf_dir)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def want(key):
        return rows(get_query(key).fn(spark, sf_dir))

    b = load(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("pct"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    assert rows(
        eng.calibration_error(b, pred="pct", outcome="y", prob_denom=10)
    ) == want("eval_ece_calibration")
    assert rows(
        eng.brier(b, pred="pct", outcome="y", prob_denom=10)
    ) == want("eval_brier_score")

    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    assert rows(
        eng.theil_sen(daily, key="event_type", order="day", value="n")
    ) == want("ts_theil_sen_slope")


def test_engine_scc_default_tracks_operator_constant():
    import inspect

    from avro_parquet_spark_example_spark.engine import Engine

    src = inspect.getsource(Engine.scc)
    assert "_SCC_ROUNDS" in src
    assert "rounds: int | None = None" in src

#: Every method name the facade has had; hand-written or bound from the
#: operator table, each stays callable as ``Engine.<name>``.
ENGINE_NAMES = {
    "__init__", "anova", "assortativity", "auc_bootstrap_cell",
    "auc_delong_se", "auc_partial", "autocorr", "bfs", "bleu_corpus",
    "blocklist_filter", "bradley_terry", "brier", "brier_decomposition",
    "brunner_munzel", "calibration_error", "chunk", "cliff_delta",
    "cluster", "cluster_size_histogram", "clustering_coefficients",
    "cochran_armitage", "cochran_q", "column_profile", "confusion",
    "cooccurrence_graph", "cramers_v", "cuped", "cusum", "cvm_two_sample",
    "decision_stump", "dedup_exact", "dedup_incremental", "dedup_near",
    "dedup_semantic", "dedup_substrings", "dim_variance", "effect_sizes",
    "equidepth_histogram_bucketed", "fano", "fleiss_kappa",
    "forecast_backtest", "g_test", "gk_gamma_tau", "hhi", "hl_shift",
    "hosmer_lemeshow", "jackknife_se", "jonckheere_terpstra",
    "kaplan_meier", "kappa", "kappa_weighted", "kcenter_seeds", "kendall",
    "kendall_w", "knn_graph", "krippendorff_alpha", "ks_two_sample",
    "lead_lag_xcorr", "log_odds", "lorenz_curve", "lorenz_curve_bucketed",
    "mad", "mann_kendall", "mcc", "mcnemar", "median_ci", "mood_median",
    "mutual_information", "nelson_aalen", "outlier_flags", "pagerank",
    "pass_at_k", "percent_rank_cume", "piecewise_trend",
    "poisson_bootstrap", "power_mde", "project_bipartite", "quality_gate",
    "quantile_bands", "rbo", "read_parquet", "read_with_avro_schema",
    "redact_pii", "resample_temperature", "resolve_entities", "rmst",
    "rolling_median", "rouge_n", "runs_test", "scc", "search_topk",
    "select_dsir", "sessionize", "shuffle_export", "silhouette", "simhash",
    "sparse_topk", "spearman", "split", "sql", "table", "theil_sen",
    "triangles", "trimmed_mean", "ttr_hapax", "write_parquet",
}


def test_engine_operator_table_binds_library_functions():
    """No Spark: each ``_OPERATORS`` entry resolves to the library function
    itself, so ``help`` and ``inspect.signature`` on the facade show the
    operator's own signature and docstring; no facade name went missing."""
    import importlib
    import inspect

    from avro_parquet_spark_example_spark.engine import _OPERATORS

    for name, target in _OPERATORS.items():
        module, fn_name = target.split(":")
        fn = getattr(
            importlib.import_module(
                f"avro_parquet_spark_example_spark.operators.{module}"
            ),
            fn_name,
        )
        assert getattr(Engine, name) is fn, name
        assert inspect.signature(getattr(Engine, name)) == inspect.signature(fn)
    assert len(ENGINE_NAMES) == 106
    assert {n for n in dir(Engine) if not n.startswith("_")} | {"__init__"} == (
        ENGINE_NAMES
    )


def test_engine_lorenz_bucketed_facade_parity(spark, sf_dir):
    from avro_parquet_spark_example_spark.engine import Engine
    from pyspark.sql import functions as F

    eng = Engine(spark=spark, sf_dir=sf_dir)
    per_user = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("s")
        )
    )
    got = sorted(map(tuple, eng.lorenz_curve_bucketed(per_user).collect()))
    want = sorted(
        map(
            tuple,
            get_query("agg_lorenz_curve_bucketed").fn(spark, sf_dir).collect(),
        )
    )
    assert got == want


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
