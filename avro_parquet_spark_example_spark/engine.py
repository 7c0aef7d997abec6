"""User-facing engine facade.

The reference was a program you edited; this engine is a library you call.
``Engine`` wires the pieces — configured session, table catalog, SQL entry
point, Avro-schema'd reads, format sinks, and the LLM-pipeline operators —
behind one object, so a user of the reference's workflow (define schema →
write Parquet → register → query) maps each step 1:1:

    from avro_parquet_spark_example_spark.engine import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.01")
    eng.table("lineitem").groupBy("l_returnflag").count().show()
    eng.sql("SELECT COUNT(*) FROM orders").show()
    users = eng.read_with_avro_schema(schema_json, "/data/users.parquet")
    clusters = eng.dedup_near(eng.table("documents"))
    hits = eng.search_topk(eng.table("embeddings"), query_vec, k=10)

Every method returns a plain DataFrame — compose freely with the DataFrame
API; nothing here materializes data.

Most operator methods are the library functions themselves. ``_OPERATORS``
maps each such facade name to ``"module:function"`` under ``operators/``,
and an ``_Operator`` descriptor imports the module on first access and
returns the function unchanged. So ``eng.pagerank(edges)``,
``help(Engine.pagerank)`` and ``inspect.signature(Engine.pagerank)`` show
the operator's own signature and docstring, and a facade cannot drift from
its operator. The import waits for first access because importing every
operator module up front would add 0.1–0.2 s to ``import engine``
(measured on 4 vCPUs).
Methods that rename, reorder or hide parameters, or that carry logic of
their own, stay hand-written in the class.
"""

from __future__ import annotations

import importlib
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
)
from avro_parquet_spark_example_spark.operators.curation import (
    dsir_selected,
    temperature_selection,
)
from avro_parquet_spark_example_spark.operators.dedup import (
    connected_components,
    incremental_minhash_matches,
    minhash_clusters,
    simhash64,
    substring_dup_spans,
)
from avro_parquet_spark_example_spark.operators.simsearch import (
    dot_product,
    sql_double_array,
)
from avro_parquet_spark_example_spark.session import configure, get_session
from avro_parquet_spark_example_spark.sources import catalog
from avro_parquet_spark_example_spark.sources.avro_schema import parse_avro_schema


class Engine:
    """A configured session + catalog + operator library."""

    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = configure(spark) if spark is not None else get_session()
        self.sf_dir = sf_dir

    # -- catalog / entry points ------------------------------------------

    def table(self, name: str) -> DataFrame:
        """A catalog table (events arrives time-normalized)."""
        if self.sf_dir is None:
            raise ValueError("Engine(sf_dir=...) required for table access")
        return catalog.load(self.spark, self.sf_dir, name)

    def sql(self, text: str) -> DataFrame:
        """ANSI SQL over the catalog tables.

        Views are (re-)registered on every call: temp views are
        session-global, so two Engines with different ``sf_dir`` sharing one
        session would otherwise read each other's registrations. Re-pointing
        a view is metadata-only (the underlying DataFrames are cached).
        """
        if self.sf_dir is not None:
            catalog.register_views(self.spark, self.sf_dir)
        return self.spark.sql(text)

    def read_parquet(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def read_with_avro_schema(self, avro_schema: str | dict, path: str) -> DataFrame:
        """Declared-schema Parquet read: the Avro document is the contract,
        the file footer is not consulted (the reference's core pattern)."""
        return self.spark.read.schema(parse_avro_schema(avro_schema)).parquet(path)

    def write_parquet(
        self,
        df: DataFrame,
        path: str,
        partition_by: str | list[str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        writer = df.write.mode(mode)
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else partition_by
            writer = writer.partitionBy(*cols)
        writer.parquet(path)

    # -- LLM-pipeline operators ------------------------------------------

    def dedup_near(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
        collapse_exact: bool = True,
    ) -> DataFrame:
        """(id, cluster_id) for near-duplicate documents via MinHash+LSH +
        connected components. Rows not in any cluster are absent (keep them
        all); drop every id whose cluster_id != id to dedup.
        ``collapse_exact`` (default) runs the value-exact production
        composition — exact duplicates collapse to their representative
        before the near-dup pipeline, so cost tracks the CANONICAL corpus
        at any duplicate rate (see SCALING.md "exact-dup-rate boundary")."""
        return minhash_clusters(
            df,
            id_col=id_col,
            text_col=text_col,
            sim_threshold=threshold,
            collapse_exact=collapse_exact,
        )

    def dedup_incremental(
        self,
        corpus: DataFrame,
        batch: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
    ) -> DataFrame:
        """Near-dup matches of a NEW batch against the EXISTING corpus as
        (corpus_id, batch_id, jaccard) — only the batch is shingled/signed
        and the band join is corpus×batch, so ingest cost scales with the
        batch (shared implementation with ``dedup_minhash_incremental``).
        Anti-join ``batch`` on batch_id to admit only novel documents."""
        return incremental_minhash_matches(
            corpus, batch, id_col=id_col, text_col=text_col,
            jaccard_threshold=threshold,
        )

    def resample_temperature(
        self,
        df: DataFrame,
        domain_col: str,
        id_col: str = "doc_id",
        alpha: float = 0.5,
        budget: float = 0.6,
    ) -> DataFrame:
        """Deterministic temperature-scaled mixture resample: keep each row
        with per-domain probability from p^alpha renormalization times the
        budget, decided by an md5-uniform draw on ``id_col`` (stable under
        reruns and incremental ingestion; shared implementation with
        ``mixture_temperature_resample``)."""
        sel = temperature_selection(
            df, domain_col=domain_col, id_col=id_col, alpha=alpha,
            budget_frac=budget,
        )
        return sel.filter(F.col("__selected")).select(*df.columns)

    def select_dsir(
        self,
        df: DataFrame,
        is_target: Column,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """DSIR importance selection: docs whose average per-token log-ratio
        of the target unigram distribution (rows where ``is_target``) vs the
        raw corpus favors the target, as (id, n_tok, avg_log_ratio) — join
        back on ``id_col`` for the selected documents (shared implementation
        with ``curation_dsir_importance``)."""
        return dsir_selected(df, is_target, text_col=text_col, id_col=id_col)

    def simhash(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """Append a 64-bit SimHash ``fingerprint`` column."""
        return df.withColumn("fingerprint", simhash64(F.col(text_col)))

    def dedup_substrings(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 8,
    ) -> DataFrame:
        """Merged token spans (id, span_start, span_end) of every k-token
        window that occurred earlier in the corpus — the Lee-et-al-2022
        substring-dedup cut list (shared implementation with the
        oracle-checked ``dedup_substring_spans`` operator)."""
        return substring_dup_spans(df, id_col=id_col, text_col=text_col, k=k)

    def search_topk(
        self,
        df: DataFrame,
        query_vec: list[float],
        k: int = 10,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Exact cosine top-k against a literal query vector (unit-norm
        corpus ⇒ dot == cosine). Plans TakeOrderedAndProject — per-partition
        heaps, no global sort."""
        return (
            df.withColumn(
                "score",
                dot_product(f"`{vec_col}`", sql_double_array(query_vec)),
            )
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(k)
        )

    def cluster(
        self,
        df: DataFrame,
        k: int = 8,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """(id, cluster, sq_dist) via iterative k-means; only the k×dim
        centroids ever reach the driver (operators/clustering.py)."""
        vectors = df.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        centroids, _ = kmeans_fit(vectors, k=k)
        return assign_clusters(vectors, centroids).select(
            F.col("vec_id").alias(id_col), "cluster", "sq_dist"
        )

    def redact_pii(
        self,
        df: DataFrame,
        text_col: str = "text",
        extra_patterns: list[str] | None = None,
    ) -> DataFrame:
        """Mask emails/phones (plus caller-supplied regexes) in ``text_col``
        — zero-shuffle regex map, the pre-release scrub pass."""
        email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
        phone = r"\d{3}[-.]?\d{3}[-.]?\d{4}"
        out = F.regexp_replace(
            F.regexp_replace(F.col(text_col), email, "[EMAIL]"), phone, "[PHONE]"
        )
        for pat in extra_patterns or []:
            out = F.regexp_replace(out, pat, "[REDACTED]")
        return df.withColumn(text_col, out)

    def split(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        weights: tuple[int, int, int] = (12, 2, 2),
    ) -> DataFrame:
        """Append a deterministic ``split`` column (train/val/test) from the
        md5 hex space of ``id_col`` — stable under reruns and ingestion,
        unlike fraction sampling. ``weights`` partition the 16 hex buckets."""
        t, v, s = weights
        if t + v + s != 16 or min(t, v, s) < 1:
            raise ValueError("weights must be ≥1 each and sum to 16")
        hexchars = "0123456789abcdef"
        first_hex = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
        split = (
            F.when(first_hex.isin(*hexchars[:t]), "train")
            .when(first_hex.isin(*hexchars[t : t + v]), "val")
            .otherwise("test")
        )
        return df.withColumn("split", split)

    def shuffle_export(
        self, df: DataFrame, id_col: str = "doc_id", seed: int = 42
    ) -> DataFrame:
        """Key rows with the deterministic seeded ``shuffle_key`` + 16-way
        ``shard`` and return them repartitioned by shard, sorted by key
        within each shard — ready for a sharded training-set write; re-runs
        with the same seed reproduce the byte order exactly."""
        from avro_parquet_spark_example_spark.operators.curation import (
            shard_for_export,
        )

        keyed = shard_for_export(df, id_col=id_col, seed=seed)
        return keyed.repartition("shard").sortWithinPartitions(
            "shuffle_key", id_col
        )

    # -- graph / retrieval / statistics ----------------------------------

    def cooccurrence_graph(
        self, max_user: int | None = None
    ) -> DataFrame:
        """Oriented (u < v) co-occurrence edges over the catalog's events
        table — same (type, 5-minute) bucket (operators/graph.py)."""
        from avro_parquet_spark_example_spark.operators.graph import (
            cooccurrence_edges,
        )

        if self.sf_dir is None:
            raise ValueError("Engine(sf_dir=...) required for table access")
        return cooccurrence_edges(self.spark, self.sf_dir, max_user=max_user)

    def sparse_topk(
        self,
        docs: DataFrame,
        query_doc_id: int,
        k: int = 10,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Sparse lexical retrieval: tf-cosine top-k against one document
        via the inverted-index posting-list join — only documents sharing
        a term are touched (operators/text_analysis.py)."""
        from avro_parquet_spark_example_spark.operators.text_analysis import (
            sparse_cosine_topk,
        )

        return sparse_cosine_topk(
            docs, query_doc_id, k=k, text_col=text_col, id_col=id_col
        )

    def sessionize(
        self,
        ev: DataFrame,
        user_col: str = "u",
        ts_col: str = "ts",
        gap_us: int | None = None,
        cap_us: int | None = None,
    ) -> DataFrame:
        """Gap + max-duration capped sessions over an epoch-µs stream
        (operators/timeseries.py)."""
        from avro_parquet_spark_example_spark.operators.timeseries import (
            SESS_CAP_US,
            SESS_GAP_US,
            sessionize_capped,
        )

        return sessionize_capped(
            ev,
            user_col=user_col,
            ts_col=ts_col,
            gap_us=gap_us if gap_us is not None else SESS_GAP_US,
            cap_us=cap_us if cap_us is not None else SESS_CAP_US,
        )

    def bfs(self, sym_edges: DataFrame, seeds: DataFrame, hops: int = 3) -> DataFrame:
        """Bounded multi-source BFS hop distances over symmetrized
        (src, dst) edges (operators/graph.py)."""
        from avro_parquet_spark_example_spark.operators.graph import bfs_hops

        return bfs_hops(sym_edges, seeds, hops=hops)

    def resolve_entities(
        self,
        records: DataFrame,
        max_lev: int = 2,
        block_tail: int = 6,
        max_block_size: int | None = None,
        on_oversized: str = "drop",
    ) -> DataFrame:
        """(id, cluster_id, is_golden) entity clusters over an (id, name)
        record frame: suffix blocking + exact-Levenshtein candidate match
        (operators/entity.py, with the engine's standard per-block skew
        cap) closed transitively with the shared connected-components.
        Drop every id whose cluster_id != id to keep golden records."""
        from avro_parquet_spark_example_spark.operators.entity import (
            ER_MAX_BLOCK,
            blocked_match_pairs,
        )

        pairs = blocked_match_pairs(
            records,
            max_lev=max_lev,
            block_tail=block_tail,
            max_block_size=(
                ER_MAX_BLOCK if max_block_size is None else max_block_size
            ),
            on_oversized=on_oversized,
        ).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        cc = connected_components(pairs)
        return cc.select(
            "id",
            "cluster_id",
            (F.col("cluster_id") == F.col("id")).alias("is_golden"),
        )

    def knn_graph(
        self,
        vectors: DataFrame,
        k: int = 3,
        n_anchors: int = 8,
        nprobe: int = 3,
        exact: bool = False,
    ) -> DataFrame:
        """(src, dst, rnk, score) k-nearest-neighbor graph over a
        (vec_id, embedding) frame via the IVF-cell-blocked candidate
        join (operators/simsearch.py). ``exact=True`` degenerates the
        quantizer to ONE cell (n_anchors=1) — the all-pairs exact graph
        through the identical code path, for bounded pools."""
        from avro_parquet_spark_example_spark.operators.simsearch import (
            knn_graph_ivf,
        )

        if exact:
            n_anchors, nprobe = 1, 1
        return knn_graph_ivf(
            vectors, n_anchors=n_anchors, nprobe=nprobe, k=k
        )

    def silhouette(
        self,
        vectors: DataFrame,
        sample_hex: str | None = None,
        target_count: int | None = None,
        pool_rows: int | None = None,
    ) -> DataFrame:
        """(vec_id, label, a_intra, b_inter, silhouette) — exact
        Rousseeuw silhouette of a (vec_id, label, embedding) cluster
        assignment. ``sample_hex`` (e.g. "4000" ≈ 25%) applies the
        deterministic md5-uniform sample — the at-scale form; None runs
        the exact all-pairs on the caller-bounded pool.
        ``target_count`` is the production dial (VERDICT r10 task #3):
        the threshold is computed from an absolute sample SIZE, so the
        quadratic stage stays the same cost as the corpus grows.

        NOTE (exception to the lazy-facade rule): deriving the
        threshold from ``target_count`` needs the corpus size, so this
        method runs an eager ``vectors.count()`` — one full action on
        the input — unless the caller supplies ``pool_rows`` (the known
        or estimated corpus row count), which keeps the call fully
        lazy (ADVICE r11 #3)."""
        from avro_parquet_spark_example_spark.operators.simsearch import (
            cluster_silhouette,
            silhouette_sample_hex,
        )

        if target_count is not None:
            if sample_hex is not None:
                raise ValueError(
                    "pass sample_hex or target_count, not both"
                )
            sample_hex = silhouette_sample_hex(
                pool_rows if pool_rows is not None else vectors.count(),
                target_count,
            )
        if sample_hex is not None:
            # Compare a prefix of the SAME length as the threshold —
            # a hardcoded 4 would silently turn '40000' into a 4-digit
            # prefix comparison and shift the sample fraction
            # (ADVICE r10 #2).
            if not re.fullmatch(r"[0-9a-f]+", sample_hex):
                raise ValueError(
                    f"sample_hex must be lowercase hex, got {sample_hex!r}"
                )
            vectors = vectors.filter(
                F.substring(
                    F.md5(F.col("vec_id").cast("string")),
                    1,
                    len(sample_hex),
                )
                < F.lit(sample_hex)
            )
        return cluster_silhouette(vectors)

    def project_bipartite(
        self,
        memberships: DataFrame,
        max_part_degree: int | None = None,
        on_oversized: str = "drop",
        min_shared: int = 2,
    ) -> DataFrame:
        """(s1, s2, co_parts) co-membership projection of a DISTINCT
        (part, supp) incidence frame (operators/graph.py), per-part
        degree bounded by the engine's standard drop|error|split cap."""
        from avro_parquet_spark_example_spark.operators.graph import (
            BIPART_MAX_DEGREE,
            bipartite_project,
        )

        return bipartite_project(
            memberships,
            max_part_degree=(
                BIPART_MAX_DEGREE
                if max_part_degree is None
                else max_part_degree
            ),
            on_oversized=on_oversized,
            min_shared=min_shared,
        )

    def kcenter_seeds(
        self, vectors: DataFrame, k: int | None = None
    ) -> DataFrame:
        """(sel_rank, vec_id, radius7) — deterministic greedy k-center
        (farthest-point) seeding of a (vec_id, embedding) frame
        (operators/clustering.py); the RNG-free k-means++ stand-in whose
        radius column doubles as the pick-k diagnostic."""
        from avro_parquet_spark_example_spark.operators.clustering import (
            KCENTER_K,
            kcenter_greedy,
        )

        return kcenter_greedy(
            vectors, k=KCENTER_K if k is None else k
        )

    def clustering_coefficients(self, edges: DataFrame) -> DataFrame:
        """(node, degree, n_triangles, local_cc) — per-node local
        clustering coefficients of an oriented (u < v) edge frame
        (operators/graph.py); degree-1 nodes are excluded (undefined
        denominator)."""
        from avro_parquet_spark_example_spark.operators.graph import (
            local_clustering_coefficients,
        )

        return local_clustering_coefficients(edges)

    def decision_stump(
        self, df: DataFrame, feature: str, target: str
    ) -> DataFrame:
        """(threshold, n_left, pos_left, gain12, is_best) — exact
        information-gain split search of a bounded-domain feature against
        a boolean target column (operators/features.py)."""
        from avro_parquet_spark_example_spark.operators.features import (
            decision_stump,
        )

        return decision_stump(
            df.select(
                F.col(feature).alias("v"), F.col(target).alias("is_ref")
            )
        )

    def log_odds(
        self,
        df: DataFrame,
        text: str,
        flag: str,
        aw: float | None = None,
        min_count: int | None = None,
    ) -> DataFrame:
        """(w, ya, yb, z) — Monroe "fightin' words" log-odds z-scores of
        flag-true vs flag-false word usage
        (operators/text_analysis.py)."""
        from avro_parquet_spark_example_spark.operators.text_analysis import (
            MONROE_AW,
            MONROE_MIN_COUNT,
            log_odds_monroe,
        )

        return log_odds_monroe(
            df,
            text=text,
            flag=flag,
            aw=MONROE_AW if aw is None else aw,
            min_count=MONROE_MIN_COUNT if min_count is None else min_count,
        )

    def assortativity(self, edges: DataFrame) -> DataFrame:
        """(n_edges, assortativity) — Newman degree assortativity of an
        undirected (u, v) edge frame (operators/graph.py)."""
        from avro_parquet_spark_example_spark.operators.graph import (
            degree_assortativity,
        )

        return degree_assortativity(edges)

    def poisson_bootstrap(
        self, rows: DataFrame, scale: float = 10000.0
    ) -> DataFrame:
        """(event_type, n_rows, mean_value, ci_lo, ci_hi) — Poisson-
        bootstrap 95% CI over a (event_type, event_id, q) quantized
        frame (operators/inference.py)."""
        from avro_parquet_spark_example_spark.operators.inference import (
            poisson_bootstrap_ci,
        )

        return poisson_bootstrap_ci(rows, scale=scale)

    def scc(
        self, edges: DataFrame, nodes: DataFrame, rounds: int | None = None
    ) -> DataFrame:
        """(node, scc_id, scc_size) — strongly connected components of
        a BOUNDED directed (src, dst) graph by path-doubling closure +
        mutual reachability (operators/graph.py). For condensation /
        domain graphs (≤ thousands of nodes), not row-scale graphs.
        rounds=None forwards the operator default (graph._SCC_ROUNDS)."""
        from avro_parquet_spark_example_spark.operators.graph import (
            _SCC_ROUNDS,
            scc,
        )

        return scc(
            edges, nodes, rounds=_SCC_ROUNDS if rounds is None else rounds
        )

    def rbo(self, t1: DataFrame, t2: DataFrame, k: int = 50) -> DataFrame:
        """(k, overlap_at_k, a_k, rbo_trunc, rbo_ext) — rank-biased
        overlap at p=0.9 between two rank frames (shared id column +
        r1 / r2 ranks, 1..k), k <= 50 (operators/inference.py)."""
        from avro_parquet_spark_example_spark.operators.inference import (
            rbo_overlap,
        )

        return rbo_overlap(t1, t2, k=k)


# Facade name -> "module:function" under ``operators/``. Each entry is the
# library function itself, bound onto ``Engine`` below.
_OPERATORS = {
    "spearman": "aggregates:spearman_rho",
    "kendall": "aggregates:kendall_tau_b",
    "mutual_information": "aggregates:mutual_information",
    "hhi": "aggregates:hhi_index",
    "cramers_v": "aggregates:cramers_v",
    "quantile_bands": "aggregates:quantile_bands",
    "trimmed_mean": "aggregates:trimmed_winsorized_mean",
    "mad": "aggregates:mad_robust",
    "outlier_flags": "aggregates:outlier_flags",
    "hl_shift": "aggregates:hl_shift",
    "median_ci": "aggregates:median_ci",
    "equidepth_histogram_bucketed": "aggregates:equidepth_histogram_bucketed",
    "chunk": "curation:chunk_documents",
    "quality_gate": "curation:gopher_quality_flags",
    "blocklist_filter": "curation:blocklist_flags",
    "dedup_exact": "dedup:keep_first_per_text",
    "dedup_semantic": "dedup:semantic_cell_dropped",
    "cluster_size_histogram": "dedup:cluster_size_histogram",
    "pagerank": "graph:pagerank_edges",
    "triangles": "graph:triangle_counts",
    "pass_at_k": "inference:pass_at_k",
    "fleiss_kappa": "inference:fleiss_kappa",
    "jackknife_se": "inference:jackknife_ratio_se",
    "effect_sizes": "inference:effect_sizes",
    "power_mde": "inference:power_mde",
    "bradley_terry": "inference:bradley_terry",
    "auc_bootstrap_cell": "inference:auc_bootstrap_cell",
    "mcnemar": "inference:mcnemar_paired",
    "cochran_q": "inference:cochran_q",
    "krippendorff_alpha": "inference:krippendorff_alpha",
    "auc_delong_se": "inference:auc_delong_se",
    "brier_decomposition": "inference:brier_decomposition",
    "g_test": "inference:g_test",
    "cuped": "inference:cuped",
    "kendall_w": "inference:kendall_w",
    "calibration_error": "projection:calibration_error",
    "brier": "projection:brier_score",
    "column_profile": "projection:column_profile",
    "jonckheere_terpstra": "rankstats:jonckheere_terpstra",
    "gk_gamma_tau": "rankstats:gk_gamma_tau",
    "mood_median": "rankstats:mood_median",
    "runs_test": "rankstats:runs_test",
    "cliff_delta": "rankstats:cliff_delta",
    "kappa_weighted": "rankstats:kappa_weighted",
    "ks_two_sample": "rankstats:ks_two_sample",
    "auc_partial": "rankstats:auc_partial",
    "brunner_munzel": "rankstats:brunner_munzel",
    "lorenz_curve": "rankstats:lorenz_curve",
    "cvm_two_sample": "rankstats:cvm_two_sample",
    "cochran_armitage": "rankstats:cochran_armitage",
    "hosmer_lemeshow": "rankstats:hosmer_lemeshow",
    "lorenz_curve_bucketed": "rankstats:lorenz_curve_bucketed",
    "confusion": "simsearch:nearest_centroid_confusion",
    "kappa": "simsearch:cohens_kappa",
    "dim_variance": "simsearch:dim_variance",
    "mcc": "simsearch:mcc_multiclass",
    "kaplan_meier": "survival:kaplan_meier",
    "nelson_aalen": "survival:nelson_aalen",
    "rmst": "survival:rmst",
    "ttr_hapax": "text_analysis:ttr_hapax",
    "bleu_corpus": "text_analysis:bleu_corpus",
    "rouge_n": "text_analysis:rouge_n",
    "cusum": "timeseries:cusum_drift",
    "rolling_median": "timeseries:rolling_median",
    "lead_lag_xcorr": "timeseries:lead_lag_xcorr",
    "anova": "timeseries:anova_oneway",
    "autocorr": "timeseries:autocorr",
    "theil_sen": "timeseries:theil_sen",
    "fano": "timeseries:fano_factor",
    "forecast_backtest": "timeseries:forecast_backtest",
    "piecewise_trend": "timeseries:piecewise_trend",
    "mann_kendall": "timeseries:mann_kendall",
    "percent_rank_cume": "windows:percent_rank_cume",
}


class _Operator:
    """Resolve ``"module:function"`` on first access; return the function."""

    def __init__(self, target: str):
        self.target = target
        self.fn = None

    def __get__(self, obj, owner=None):
        if self.fn is None:
            module, name = self.target.split(":")
            path = f"{__package__}.operators.{module}"
            self.fn = getattr(importlib.import_module(path), name)
        return self.fn


for _name, _target in _OPERATORS.items():
    setattr(Engine, _name, _Operator(_target))
