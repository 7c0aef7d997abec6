"""Group H (text analysis) — corpus analytics for training-data pipelines
(SURVEY.md §2 H6/H7 + text-analysis mandate): stats, TF-IDF, language ID,
quality scoring, token counting, fingerprinting.

Everything is built-in-function composition (split / explode / regexp /
higher-order folds) — JVM-side, codegen'd, no Python on the hot path. Each
operator is oracle-checked against the equivalent DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avro_parquet_spark_example_spark.operators.capping import (
    admitted_keys,
    group_sizes,
)
from avro_parquet_spark_example_spark.operators.graph import both_ways
from avro_parquet_spark_example_spark.registry import register
from avro_parquet_spark_example_spark.sources.catalog import iterate, load, q12

#: Production default document-frequency cap for posting-list joins: a term
#: appearing in more than this fraction of the corpus is excluded from the
#: inverted index / candidate generation (the stop-word guard — a df≈N
#: posting list IS the corpus, and joining on it is the quadratic
#: scale-killer of every term-keyed retrieval join, the same hazard class
#: as dedup's LSH mega-buckets). 0.9 is a real stop-word threshold (terms
#: in >90% of documents carry near-zero IDF: ln(0.1N/0.9N + 1) ≈ 0.105)
#: chosen ABOVE every organic fixture term (max observed df fraction 0.84
#: across sf0.001-0.1, incl. the bounded containment universe), so default
#: results are oracle-identical — verified by capped==uncapped identity
#: tests. Retrieval queries apply the cap to CANDIDATE GENERATION only and
#: score admitted candidates exactly over ALL their terms (the SSJoin
#: prefix-filter shape), so a firing cap loses a result only when a doc
#: shares NOTHING BUT stop words with the query.
TEXT_MAX_DF_FRAC = 0.9


def df_capped_terms(
    tf: DataFrame, max_df_frac: float, id_col: str = "doc_id"
) -> DataFrame:
    """(term) rows whose document frequency is ≤ max_df_frac of the corpus
    — the admitted side of the df-cap. ``tf`` must hold one row per
    (doc, term). Two map-side-combined aggregates (df per term, corpus
    size), one broadcast 1-row cross join; no per-term state. Cap
    machinery: the shared :func:`~avro_parquet_spark_example_spark.
    operators.capping.admitted_keys` with a DYNAMIC Column cap
    (frac-of-corpus rather than an absolute size)."""
    sized = group_sizes(tf, ["term"])
    n = tf.agg(F.count_distinct(id_col).alias("__n"))
    return admitted_keys(
        sized.crossJoin(F.broadcast(n)),
        ["term"],
        F.col("__n") * F.lit(max_df_frac),
        "drop",
        cap_name="max_df_frac",
        label="posting list",
    )


@register(
    "text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS total_words
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 — per-language document statistics (counts, char/word totals)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_words"),
    )


@register(
    "text_tfidf_topterms",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS term
        FROM documents
    ),
    tf AS (SELECT lang, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.lang, tf.term,
               ROUND(tf.tf * LN(n.n_docs * 1.0 / df.df), 6) AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT lang, term, score
    FROM (SELECT lang, term, score,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY score DESC, term) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 — top-5 terms per language by TF-IDF. Three shuffles total
    (tf agg, df agg, rank window) — each on bounded keys; the doc-frequency
    side is tiny post-aggregation so its join broadcasts. Scores are rounded
    BEFORE ranking so ordering agrees across engines."""
    d = load(spark, sf_dir, "documents")
    tokens = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
    tf = tokens.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # driver scalar: one number, not data
    scored = tf.join(F.broadcast(df), "term").select(
        "lang",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias(
            "score"
        ),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", "score")
    )


# ---------------------------------------------------------------------------
# Language ID — marker-token heuristic

_MARKERS = {
    "en": ["the", "and", "of", "data", "query"],
    "es": ["el", "la", "de", "los", "datos"],
    "de": ["der", "die", "das", "und", "daten"],
}


def _hits(tokens: Column, markers: list[str]) -> Column:
    marker_arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.array_intersect(tokens, marker_arr))


def langid_predictions(d: DataFrame) -> DataFrame:
    """Per-doc marker-token language-ID frame (doc_id, lang, *_hits,
    pred_lang) — shared by ``text_langid`` and the confusion-matrix
    evaluator so the detector under test is the registered one, never a
    copy."""
    toks = F.split(F.lower("text"), " ")
    scored = d.select(
        "doc_id",
        "lang",
        _hits(toks, _MARKERS["en"]).alias("en_hits"),
        _hits(toks, _MARKERS["es"]).alias("es_hits"),
        _hits(toks, _MARKERS["de"]).alias("de_hits"),
    )
    pred = (
        F.when(
            (F.col("en_hits") >= F.col("es_hits"))
            & (F.col("en_hits") >= F.col("de_hits"))
            & (F.col("en_hits") > 0),
            "en",
        )
        .when((F.col("es_hits") >= F.col("de_hits")) & (F.col("es_hits") > 0), "es")
        .when(F.col("de_hits") > 0, "de")
        .otherwise("und")
    )
    return scored.withColumn("pred_lang", pred)


@register(
    "text_langid",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               LEN(LIST_INTERSECT(STRING_SPLIT(LOWER(text), ' '),
                                  {_MARKERS['en']!r})) AS en_hits,
               LEN(LIST_INTERSECT(STRING_SPLIT(LOWER(text), ' '),
                                  {_MARKERS['es']!r})) AS es_hits,
               LEN(LIST_INTERSECT(STRING_SPLIT(LOWER(text), ' '),
                                  {_MARKERS['de']!r})) AS de_hits
        FROM documents
    )
    SELECT doc_id, lang, en_hits, es_hits, de_hits,
           CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                WHEN de_hits > 0 THEN 'de'
                ELSE 'und' END AS pred_lang
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6b — marker-token language ID (n-gram-class heuristic): count hits
    against small per-language marker sets, argmax with a fixed precedence
    (en > es > de > und). Map-side only; marker lists ride in the plan."""
    return langid_predictions(load(spark, sf_dir, "documents"))


@register(
    "text_quality_score",
    oracle="""
    WITH feat AS (
        SELECT doc_id,
               LEN(STRING_SPLIT(text, ' ')) AS n_words,
               STRLEN(text) AS n_chars_m,
               STRLEN(text) - STRLEN(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')) AS n_punct,
               LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                               t -> STRLEN(t) >= 4)) AS n_long_words
        FROM documents
    )
    SELECT doc_id, n_words, n_punct,
           ROUND(n_long_words * 1.0 / n_words, 6) AS long_word_ratio,
           ROUND(n_chars_m * 1.0 / n_words, 6) AS avg_word_len,
           (n_words BETWEEN 5 AND 2000) AND (n_punct * 1.0 / n_words < 0.5)
             AS passes_quality
    FROM feat
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6c — heuristic quality features (length, punctuation density, long-
    word ratio) + a pass/fail gate, the pre-training-filter shape."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feat = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.length("text").alias("n_chars_m"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
        ).alias("n_punct"),
        F.size(F.filter(toks, lambda t: F.length(t) >= 4)).alias("n_long_words"),
    )
    return feat.select(
        "doc_id",
        "n_words",
        "n_punct",
        F.round(F.col("n_long_words") * 1.0 / F.col("n_words"), 6).alias(
            "long_word_ratio"
        ),
        F.round(F.col("n_chars_m") * 1.0 / F.col("n_words"), 6).alias("avg_word_len"),
        (
            F.col("n_words").between(5, 2000)
            & (F.col("n_punct") * 1.0 / F.col("n_words") < 0.5)
        ).alias("passes_quality"),
    )


#: Hashed-feature dimensionality for the linear quality scorer (2^10 —
#: production fastText-style filters use 2^20+; the shape is identical).
LINEAR_SCORE_DIM = 1024
#: Knuth multiplicative constant — derives the deterministic stand-in
#: weight for bucket b: ((b*K) % 2003) - 1001 ∈ [-1001, 1001].
_LINEAR_SCORE_K = 2654435761


@register(
    "text_quality_linear_score",
    oracle=f"""
    WITH weights AS (
        SELECT CAST(r.range AS INTEGER) AS bucket,
               (CAST(r.range AS BIGINT) * {_LINEAR_SCORE_K}) % 2003 - 1001 AS w
        FROM RANGE({LINEAR_SCORE_DIM}) r
    ),
    toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    feats AS (
        SELECT doc_id,
               CAST(CONCAT('0x', SUBSTR(MD5(tok), 1, 4)) AS INTEGER)
                 % {LINEAR_SCORE_DIM} AS bucket
        FROM toks WHERE tok <> ''
    )
    SELECT f.doc_id,
           COUNT(*) AS n_tok,
           CAST(SUM(w.w) AS BIGINT) AS feat_sum,
           ROUND(SUM(w.w) / (1001.0 * COUNT(*)), 6) AS score,
           SUM(w.w) > 0 AS keep
    FROM feats f JOIN weights w USING (bucket)
    GROUP BY f.doc_id
    """,
)
def text_quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6q — MODEL-BASED quality filtering, the fastText-classifier stage
    of CCNet/LLaMA-class pipelines (a learned linear model over hashed
    token features decides keep/drop), as a Spark shape: tokenize →
    feature-hash each token into one of ``LINEAR_SCORE_DIM`` buckets
    (the hashing trick, Weinberger et al. 2009 — md5-hex prefix so both
    engines hash identically) → broadcast-join the 1024-row weight table
    → one map-side-combined integer aggregation per document. The
    weights here are a deterministic arithmetic stand-in derived from
    the bucket index (no learned artifact ships offline); a production
    run broadcast-joins its trained weight vector through the IDENTICAL
    plan — same explode, same broadcast, same exchange.

    Exactness: weights are integers in [-1001, 1001], so the per-doc
    accumulation is an exact BIGINT sum (no float fold order at any
    parallelism); the single division + round happens per GROUP. Scale:
    the weight side is O(dim) and broadcast; the token stream never
    shuffles raw text — only (doc_id, bucket) ints reach the exchange,
    and the final agg is doc-keyed with map-side combine."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    weights = F.broadcast(
        spark.range(LINEAR_SCORE_DIM).select(
            F.col("id").cast("int").alias("bucket"),
            ((F.col("id") * F.lit(_LINEAR_SCORE_K)) % 2003 - 1001).alias("w"),
        )
    )
    feats = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int")
                % F.lit(LINEAR_SCORE_DIM)
            ).alias("bucket"),
        )
    )
    return (
        feats.join(weights, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("w").alias("__s"),
        )
        .select(
            "doc_id",
            "n_tok",
            F.col("__s").cast("bigint").alias("feat_sum"),
            F.round(F.col("__s") / (1001.0 * F.col("n_tok")), 6).alias("score"),
            (F.col("__s") > 0).alias("keep"),
        )
    )


@register(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS ws_tokens,
           LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6d — token counting two ways: whitespace tokens and a BPE-ish
    regex lexer (letter runs / digit runs / other) — the cheap token-budget
    estimator used when a real tokenizer is too expensive for a first pass."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0
            )
        ).alias("bpe_ish_tokens"),
    )


@register(
    "pipeline_corpus_curation",
    oracle="""
    WITH all_docs AS (
        SELECT doc_id, text, lang, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 100000, text, lang, n_chars FROM documents WHERE doc_id < 50
    ),
    quality AS (
        SELECT *, LEN(STRING_SPLIT(text, ' ')) AS n_words
        FROM all_docs
        WHERE LEN(STRING_SPLIT(text, ' ')) BETWEEN 5 AND 2000
          AND (STRLEN(text) - STRLEN(REGEXP_REPLACE(text, '[.,!?;:]', '', 'g')))
              * 1.0 / LEN(STRING_SPLIT(text, ' ')) < 0.5
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY LOWER(TRIM(text))
                                         ORDER BY doc_id) AS rn
            FROM quality)
        WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM deduped
    GROUP BY lang
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-pipeline — the end-to-end curation flow composed from this module's
    verified pieces, as one lazy plan: ingest (+injected duplicates) →
    quality gate (length + punctuation density) → exact dedup (keep min id
    per normalized text) → per-language corpus stats. One Catalyst plan:
    the gate's filter pushes below the dedup window, the window shuffles
    once on the 32-byte text hash, the final agg is map-side combined —
    the same shape at 100 TB."""
    from avro_parquet_spark_example_spark.operators.dedup import (
        keep_first_per_text,
        with_injected_duplicates,
    )

    docs = with_injected_duplicates(
        load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    )
    toks = F.split("text", " ")
    punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    quality = docs.withColumn("n_words", F.size(toks)).filter(
        F.col("n_words").between(5, 2000)
        & (punct * 1.0 / F.col("n_words") < 0.5)
    )
    deduped = keep_first_per_text(quality)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           LIST_MIN([MD5(SUBSTR(text, i, 8))
                     FOR i IN RANGE(1, GREATEST(STRLEN(text) - 7, 1) + 1)]) AS fingerprint
    FROM documents
    WHERE doc_id < 200
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6e — winnowing-style document fingerprint: the minimum hash over all
    8-char grams (rolling window). Per-row higher-order expression; at
    corpus scale this is the cheap clustering key stored beside each doc."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    grams = F.expr(
        "transform(sequence(1, greatest(length(text) - 7, 1)),"
        " i -> md5(substring(text, i, 8)))"
    )
    return d.select("doc_id", F.array_min(grams).alias("fingerprint"))


@register(
    "text_ngram_bigrams",
    oracle="""
    WITH tokens AS (
        SELECT lang, STRING_SPLIT(text, ' ') AS w FROM documents
    ),
    bigrams AS (
        SELECT lang,
               UNNEST([w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                       FOR i IN RANGE(1, LEN(w))]) AS bigram
        FROM tokens
    ),
    counted AS (
        SELECT lang, bigram, COUNT(*) AS cnt FROM bigrams GROUP BY 1, 2
    )
    SELECT lang, bigram, cnt FROM (
        SELECT lang, bigram, cnt,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn
        FROM counted
    ) WHERE rn <= 5
    """,
)
def text_ngram_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6f — top-5 word bigrams per language. The bigram expansion is a
    per-row indexed ``transform`` over the token array (JVM-side, no
    Python), so the only shuffles are the (lang, bigram) count and the
    tiny per-lang top-k window — both key-partitioned and
    skew-resistant at corpus scale. Tiebreak on the bigram text keeps
    the LIMIT deterministic cross-engine."""
    d = load(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    bigram = F.explode(
        F.expr("transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', w[i + 1]))")
    ).alias("bigram")
    counted = d.select("lang", bigram).groupBy("lang", "bigram").count()
    w = Window.partitionBy("lang").orderBy(F.desc("count"), F.asc("bigram"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "bigram", F.col("count").alias("cnt"))
    )


@register(
    "text_pii_redact",
    oracle=r"""
    SELECT doc_id,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\d{3}[-.]?\d{3}[-.]?\d{4}', '[PHONE]', 'g'),
             '\bcustomer\b', '[ENTITY]', 'g') AS redacted,
           LEN(REGEXP_EXTRACT_ALL(text, '\bcustomer\b')) AS n_entity,
           LEN(REGEXP_EXTRACT_ALL(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email
    FROM documents
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6f — PII scrubbing, the pre-release redaction pass every training
    corpus needs: regex-mask emails, phone numbers, and a configurable
    entity list (here the literal ``customer``, the one pattern the
    synthetic corpus actually contains, so the op is exercised with real
    hits). Pure ``regexp_replace`` chains — JVM regex, codegen'd, no Python;
    at 100 TB this is an embarrassingly parallel map with zero shuffle.
    Patterns stay in the RE2/Java common dialect so the DuckDB oracle
    applies the identical semantics."""
    d = load(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\d{3}[-.]?\d{3}[-.]?\d{4}"
    entity = r"\bcustomer\b"
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", email, "[EMAIL]"), phone, "[PHONE]"
        ),
        entity,
        "[ENTITY]",
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(entity), 0)).alias("n_entity"),
        F.size(F.regexp_extract_all("text", F.lit(email), 0)).alias("n_email"),
    )


@register(
    "text_repetition_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    freq AS (
        SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               COUNT(*) AS n_distinct,
               MAX(c) AS top_freq
        FROM freq GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_distinct,
           ROUND(n_distinct * 1.0 / n_words, 6) AS distinct_ratio,
           ROUND(top_freq * 1.0 / n_words, 6) AS top_word_frac,
           (n_distinct * 1.0 / n_words < 0.3 OR top_freq * 1.0 / n_words > 0.2)
             AS is_repetitive
    FROM per_doc
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6g — repetition-based quality gate (the Gopher-rules shape):
    distinct-word ratio and the most-frequent-word share flag boilerplate /
    degenerate documents. explode → per-(doc, word) counts → per-doc
    roll-up: two key-partitioned aggregations whose first shuffle is
    map-side-combined, so rows entering the exchange are (doc, word)
    partials, not raw tokens — at 100 TB that is the difference between
    shuffling the corpus and shuffling its vocabulary profile."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = freq.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_freq"),
    )
    distinct_ratio = F.col("n_distinct") * 1.0 / F.col("n_words")
    top_frac = F.col("top_freq") * 1.0 / F.col("n_words")
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(top_frac, 6).alias("top_word_frac"),
        ((distinct_ratio < 0.3) | (top_frac > 0.2)).alias("is_repetitive"),
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
        FROM documents
    ),
    vocab AS (
        SELECT w, COUNT(*) AS c FROM toks GROUP BY w
    ),
    tot AS (SELECT SUM(c) AS t FROM vocab),
    scored AS (
        SELECT toks.doc_id,
               CAST(ROUND(LN(vocab.c * 1.0 / tot.t), 9) AS DECIMAL(18, 9)) AS lp
        FROM toks JOIN vocab USING (w) CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tok,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6l — corpus-trained unigram log-probability scoring, the shape of
    perplexity-based quality filtering (CCNet-style: score each doc by its
    average token log-likelihood under a language model; docs in the bad
    tail get dropped or down-mixed). The "model" here is the corpus's own
    unigram distribution so the op is closed over the test tables: one
    map-side-combined vocab aggregation, a broadcast-sized vocab joined
    back to the exploded token stream, one per-doc roll-up. At 100 TB the
    vocab (vocabulary, not corpus, cardinality) still broadcasts, so the
    scoring pass is scan-bound with a single doc-key shuffle. Per-token
    log-probs are rounded to 9 decimals and summed as DECIMAL(18,9) so the
    sum is order-independent and hash-identical across engines (the dsum
    rule, see operators/aggregates.dsum)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    lp = F.round(F.log(F.col("c") * 1.0 / F.col("t")), 9).cast("decimal(18,9)")
    scored = toks.join(F.broadcast(vocab), "w").crossJoin(F.broadcast(total)).select(
        "doc_id", lp.alias("lp")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logprob"),
    )


@register(
    "text_inverted_index",
    # f-string: the df-cap is INTERPOLATED from TEXT_MAX_DF_FRAC so engine
    # and oracle can never disagree on the cap constant (ADVICE r7; the
    # iusum_sql precedent)
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS tok
        FROM documents
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    postings AS (
        SELECT tok,
               COUNT(*) AS df,
               ARRAY_TO_STRING(LIST_SORT(LIST(doc_id))[1:20], ',') AS posting_head
        FROM toks GROUP BY tok
    )
    SELECT tok, df, posting_head FROM postings CROSS JOIN n
    WHERE df <= n.n_docs * {TEXT_MAX_DF_FRAC}
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7b — inverted-index construction (token → sorted posting list +
    document frequency), the index-build batch job behind corpus search and
    the exact-match leg of dedup: explode to (doc, token), distinct, one
    map-side-combined aggregation per token. Each token carries its df and
    the FIRST SEGMENT of its sorted posting list (20 ids) — production
    indexes store postings as chunked segments precisely because a high-df
    token's full list is unbounded (a stop-token's posting list is the
    corpus itself); truncating the sorted list is deterministic, unlike
    sampling. At 100 TB the same plan emits (token, segment_no, ids) with
    a secondary segment key — identical shuffle shape. Posting heads are
    sorted and string-joined for deterministic cross-engine hashing.

    The df-cap (``TEXT_MAX_DF_FRAC``) is part of the index CONTRACT on
    both engines — terms in >90% of documents are excluded at build time
    (this oracle enforces the same rule in SQL), so no consumer of the
    index can ever join a stop-word posting list."""
    d = load(spark, sf_dir, "documents")
    return inverted_index(d)


def inverted_index(
    docs: DataFrame,
    max_df_frac: float | None = TEXT_MAX_DF_FRAC,
    head: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(tok, df, posting_head) — library form of text_inverted_index with
    the df-cap dial; ``max_df_frac=None`` builds the uncapped index (used
    by the capped==uncapped identity test)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), " "))
        ).alias("tok"),
    )
    idx = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, head), ","
        ).alias("posting_head"),
    )
    if max_df_frac is None:
        return idx
    # Drop-mode df-cap FUSED into the posting aggregate: `df` above IS the
    # group size, so the threshold filter is capping.admitted_keys's drop
    # branch applied in place (a separate count→admit→join would re-derive
    # a column this aggregate already carries).
    n = toks.agg(F.count_distinct("doc_id").alias("__n"))
    return idx.crossJoin(F.broadcast(n)).filter(
        F.col("df") <= F.col("__n") * F.lit(max_df_frac)
    ).drop("__n")


@register(
    "text_diversity_metrics",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS ws
        FROM documents
    ),
    toks AS (SELECT lang, UNNEST(ws) AS w FROM t),
    bigrams AS (
        SELECT lang, ws[i] || ' ' || ws[i + 1] AS bg
        FROM t, UNNEST(RANGE(1, LEN(ws))) r(i)
    ),
    uni AS (
        SELECT lang,
               COUNT(*) AS n_tokens,
               COUNT(DISTINCT w) AS distinct_unigrams
        FROM toks GROUP BY lang
    ),
    bi AS (
        SELECT lang, COUNT(DISTINCT bg) AS distinct_bigrams, COUNT(*) AS n_bigrams
        FROM bigrams GROUP BY lang
    ),
    docs AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang)
    SELECT d.lang, d.n_docs, u.n_tokens, u.distinct_unigrams,
           ROUND(u.distinct_unigrams * 1.0 / u.n_tokens, 6) AS type_token_ratio,
           b.distinct_bigrams,
           ROUND(b.distinct_bigrams * 1.0 / b.n_bigrams, 6) AS distinct_bigram_ratio
    FROM docs d JOIN uni u ON u.lang = d.lang JOIN bi b ON b.lang = d.lang
    """,
)
def text_diversity_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6m — corpus diversity report: per-language type-token ratio and
    distinct-bigram ratio (the standard lexical-diversity numbers a
    training-data report tracks — a collapsing TTR flags boilerplate or
    synthetic-loop contamination before a model ever sees the data).

    Scale shape (r15): ONE corpus pass — the doc/unigram/bigram streams
    are tagged with a kind literal and union-all'd into a single per-lang
    aggregate of conditional counts (the former shape built bigrams
    through a positional SELF-JOIN of the exploded token stream — a
    corpus-sized (doc, position) shuffle join — and planned the
    documents scan four times across the uni/bi/docs branches plus the
    join's two sides; bigrams are now the same per-row codegen'd
    adjacent-pair transform text_bigram_logprob uses, identical strings,
    no join). COUNT(DISTINCT) runs as Spark's expand-based
    partial-distinct plan per lang. At 100 TB the exact distinct counts
    are the expensive knob — swap in approx_count_distinct (D5's HLL
    sketch) for a fixed-size-state version with the same report schema."""
    d = load(spark, sf_dir, "documents")
    # Materialize the token array into a column FIRST (the
    # text_bigram_logprob rule): element_at on a bound array column is
    # O(1), while referencing the raw split() expression inside the
    # transform lambda re-evaluates the split per element — O(len²)
    # bigram construction, measured 3× slower.
    ws = d.select(
        "lang", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    adjacent = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size("w")),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("w"), i - 1), F.element_at(F.col("w"), i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tagged = (
        ws.select("lang", F.lit(0).alias("k"), F.lit(None).cast("string").alias("val"))
        .unionByName(ws.select("lang", F.lit(1).alias("k"), F.explode("w").alias("val")))
        .unionByName(ws.select("lang", F.lit(2).alias("k"), F.explode(adjacent).alias("val")))
    )
    # Two-level distinct spelled manually (count per (lang, k, val), then
    # one per-lang roll-up of conditional sums/counts): a single aggregate
    # with two COUNT(DISTINCT)s plans an Expand(×3) over the whole union —
    # measured 2.5× slower; this shape keeps every row through exactly one
    # map-side-combined partial per level. The isNotNull filter reproduces
    # the former docs⋈uni⋈bi INNER joins, which dropped a lang with no
    # tokens or no bigrams (sums over an absent kind are NULL).
    per = tagged.groupBy("lang", "k", "val").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("k") == 0, F.col("cnt")))
            .cast("bigint")
            .alias("n_docs"),
            F.sum(F.when(F.col("k") == 1, F.col("cnt")))
            .cast("bigint")
            .alias("n_tokens"),
            F.count(F.when(F.col("k") == 1, 1)).alias("distinct_unigrams"),
            F.sum(F.when(F.col("k") == 2, F.col("cnt")))
            .cast("bigint")
            .alias("n_bigrams"),
            F.count(F.when(F.col("k") == 2, 1)).alias("distinct_bigrams"),
        )
        .where(
            F.col("n_tokens").isNotNull() & F.col("n_bigrams").isNotNull()
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "distinct_unigrams",
            F.round(F.col("distinct_unigrams") * 1.0 / F.col("n_tokens"), 6).alias(
                "type_token_ratio"
            ),
            "distinct_bigrams",
            F.round(
                F.col("distinct_bigrams") * 1.0 / F.col("n_bigrams"), 6
            ).alias("distinct_bigram_ratio"),
        )
    )


@register(
    "text_token_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
        FROM documents
    ),
    counts AS (
        SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w
    ),
    totals AS (SELECT doc_id, SUM(c) AS n FROM counts GROUP BY doc_id),
    terms AS (
        SELECT c.doc_id,
               CAST(ROUND(-(c.c * 1.0 / t.n) * LN(c.c * 1.0 / t.n), 9)
                    AS DECIMAL(18, 9)) AS term
        FROM counts c JOIN totals t USING (doc_id)
    )
    SELECT t.doc_id,
           CAST(tt.n AS BIGINT) AS n_tok,
           ROUND(CAST(SUM(t.term) AS DOUBLE), 6) AS entropy
    FROM terms t JOIN totals tt USING (doc_id)
    GROUP BY t.doc_id, tt.n
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6n — per-document Shannon entropy of the token distribution,
    H = −Σ p_w ln p_w: the repetitiveness signal quality filters threshold
    on (a doc looping one phrase has near-zero entropy; natural prose sits
    near ln(vocab) — complements text_repetition_filter's window-based
    gate with a distribution-level one). Per-term contributions round to 9
    decimals and sum as DECIMAL(18,9) (the dsum rule), so the score is
    order-independent and hash-identical cross-engine.

    Scale shape: explode → (doc, token) count → per-doc roll-up — two
    doc-keyed map-side-combined aggregations, no broadcast, no global
    state; entropy of 100 TB is scan + two keyed shuffles."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("w"),
    )
    counts = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    # Per-doc totals ride a same-key window on the counts frame instead
    # of a groupBy branch joined back — the former shape planned the
    # scan→explode→count subtree twice, tokenizing the corpus twice
    # (r15; exact integer sum either way).
    p = F.col("c") * 1.0 / F.col("n")
    term = F.round(-p * F.log(p), 9).cast("decimal(18,9)")
    return (
        counts.withColumn(
            "n", F.sum("c").over(Window.partitionBy("doc_id"))
        )
        .select("doc_id", "n", term.alias("term"))
        .groupBy("doc_id", "n")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("entropy"))
        .select("doc_id", F.col("n").cast("bigint").alias("n_tok"), "entropy")
    )


#: Query document for sparse retrieval (fixed, exists at every SF).
SPARSE_QUERY_DOC = 0


@register(
    "text_sparse_cosine_topk",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
            FROM documents
        ) WHERE term <> '' GROUP BY doc_id, term
    ),
    norms AS (
        SELECT doc_id, SQRT(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
        FROM tf GROUP BY doc_id
    ),
    q AS (SELECT term, tf AS qtf FROM tf WHERE doc_id = {SPARSE_QUERY_DOC}),
    qn AS (SELECT nrm AS qnrm FROM norms WHERE doc_id = {SPARSE_QUERY_DOC}),
    -- df-cap twin (ADVICE r7): candidates come from BELOW-CAP query terms
    -- only, then admitted docs are scored exactly over all shared terms —
    -- the same {TEXT_MAX_DF_FRAC} cap the Spark side applies, so the two
    -- engines agree by construction on any corpus, not just ones where
    -- the cap never fires
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    qsel AS (
        SELECT q.term FROM q JOIN dfreq f ON f.term = q.term CROSS JOIN nd
        WHERE f.df <= nd.n_docs * {TEXT_MAX_DF_FRAC}
    ),
    cand AS (
        SELECT DISTINCT t.doc_id FROM tf t JOIN qsel s ON s.term = t.term
        WHERE t.doc_id <> {SPARSE_QUERY_DOC}
    ),
    dots AS (
        SELECT t.doc_id, CAST(SUM(t.tf * q.qtf) AS BIGINT) AS dot
        FROM tf t JOIN q ON q.term = t.term
        JOIN cand c ON c.doc_id = t.doc_id
        GROUP BY t.doc_id
    )
    SELECT d.doc_id, d.dot,
           ROUND(CAST(d.dot AS DOUBLE) / (n.nrm * qn.qnrm), 5) AS cosine
    FROM dots d JOIN norms n ON n.doc_id = d.doc_id CROSS JOIN qn
    ORDER BY CAST(d.dot AS DOUBLE) / (n.nrm * qn.qnrm) DESC, d.doc_id
    LIMIT 10
    """,
)
def text_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7c — sparse lexical retrieval: term-frequency cosine between a
    query document and the corpus via an INVERTED-INDEX join — the
    classic IR engine shape (posting lists keyed by term), complementing
    the dense-vector tiers in operators/simsearch.py. Only documents
    sharing ≥1 term with the query are ever touched: the posting-list
    join prunes the corpus the way an index probe does, where dense
    brute-force must scan every vector.

    Every aggregate is an INTEGER sum (raw tf counts; dot products and
    squared norms are exact int64 arithmetic — no float fold order to
    diverge), so both engines agree bit-for-bit after one final division.
    Production adds IDF/BM25 weighting; the tf-only form keeps the
    cross-engine check exact (text_tfidf_topterms covers the weighted
    statistics).

    Scale shape: tf build is one explode + map-side-combined count; the
    retrieval join shuffles on term — posting-list skew from stop-words
    is THE hazard at 100 TB, handled by the df-cap (``max_df_frac``,
    default ``TEXT_MAX_DF_FRAC``): candidate documents are generated from
    below-cap query terms only (no stop-word posting list is ever the
    join's fan-out side), then admitted candidates are scored EXACTLY
    over all their terms — the SSJoin prefix-filter shape, same ceiling
    pattern as dedup's LSH bucket cap; the query side is term-cardinality
    and broadcast. Norms are one agg reused via join."""
    d = load(spark, sf_dir, "documents")
    return sparse_cosine_topk(d, SPARSE_QUERY_DOC, k=10)


def sparse_cosine_topk(
    docs: DataFrame,
    query_doc_id: int,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_frac: float | None = TEXT_MAX_DF_FRAC,
) -> DataFrame:
    """(doc_id, dot, cosine) — the library form of text_sparse_cosine_topk
    (Engine.sparse_topk); see that docstring for the retrieval/scale
    analysis. ``max_df_frac`` caps CANDIDATE GENERATION only: candidates
    come from below-cap query terms, their dot/norm use all terms, so
    scores are exact and a firing cap only drops docs sharing nothing but
    stop words with the query; ``None`` disables (identity test path)."""
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(text_col, " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)  # feeds query side, corpus side, norms
    )
    norms = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nrm")
    )
    q = F.broadcast(
        tf.filter(F.col("doc_id") == query_doc_id).select(
            "term", F.col("tf").alias("qtf")
        )
    )
    qn = F.broadcast(
        norms.filter(F.col("doc_id") == query_doc_id).select(
            F.col("nrm").alias("qnrm")
        )
    )
    corpus = tf.filter(F.col("doc_id") != query_doc_id)
    if max_df_frac is not None:
        # below-cap query terms (small: ≤ query-term cardinality) drive
        # candidate generation; the scoring join then runs restricted to
        # those candidates, so no posting list fans out past the cap
        qsel = F.broadcast(
            q.join(df_capped_terms(tf, max_df_frac), "term").select("term")
        )
        cand = corpus.join(qsel, "term").select("doc_id").distinct()
        corpus = corpus.join(cand, "doc_id", "left_semi")
    dots = (
        corpus.join(q, "term")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("qtf")).alias("dot"))
    )
    cosine = F.col("dot").cast("double") / (F.col("nrm") * F.col("qnrm"))
    return (
        dots.join(norms, "doc_id")
        .crossJoin(qn)
        .orderBy(cosine.desc(), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "dot", F.round(cosine, 5).alias("cosine"))
    )


#: BM25 constants (the standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE term <> '' GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    q AS (SELECT DISTINCT term FROM tf WHERE doc_id = {SPARSE_QUERY_DOC}),
    -- df-cap twin (ADVICE r7): same cap semantics as the Spark side —
    -- below-cap query terms generate candidates, admitted docs score
    -- exactly over all matched terms
    qsel AS (
        SELECT q.term FROM q JOIN df f ON f.term = q.term CROSS JOIN stats s
        WHERE f.df <= s.n_docs * {TEXT_MAX_DF_FRAC}
    ),
    cand AS (
        SELECT DISTINCT t.doc_id FROM tf t JOIN qsel ON qsel.term = t.term
        WHERE t.doc_id <> {SPARSE_QUERY_DOC}
    ),
    partials AS (
        SELECT t.doc_id,
               CAST(ROUND(
                 ROUND(LN((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0), 9)
                 * (t.tf * ({BM25_K1} + 1.0))
                 / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
                                        + {BM25_B} * d.dl / s.avgdl)),
                 9) AS DECIMAL(20, 9)) AS partial
        FROM tf t
        JOIN q ON q.term = t.term
        JOIN df f ON f.term = t.term
        JOIN dl d ON d.doc_id = t.doc_id
        JOIN cand c ON c.doc_id = t.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id,
           COUNT(*) AS n_terms_matched,
           ROUND(CAST(SUM(partial) AS DOUBLE), 6) AS score
    FROM partials GROUP BY doc_id
    ORDER BY SUM(partial) DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7d — BM25 ranking (Robertson k1=1.2, b=0.75, Lucene's +1 smoothed
    IDF) of the corpus against one query document's terms, through the
    same inverted-index join as text_sparse_cosine_topk — the retrieval
    scorer that anchors every search-based data-curation loop (finding
    training docs relevant to an eval suite, contamination triage,
    retrieval-augmented filtering).

    Cross-engine determinism for a log-based score takes two defined
    rounding points, both part of the scoring spec on BOTH engines: the
    per-term IDF is rounded to 9 decimals (collapsing any last-ulp libm
    difference, the dq_drift_psi precedent), and each (term, doc) partial
    score is rounded to 9 decimals and summed as DECIMAL(20,9) — an
    EXACT, order-free accumulation, so the float-fold-order hazard of
    summing doubles across a shuffle never arises.

    Scale shape: identical to the sparse-cosine retrieval — posting-list
    join on term, with the same df-cap candidate guard (``max_df_frac``:
    candidates from below-cap query terms, exact scoring of admitted
    docs over all matched terms — stop-word IDF is ≈0.1 anyway, but the
    cap's job is the JOIN bound, not the score); doc-length and df sides
    are one aggregate each, corpus stats are a broadcast 1-row cross
    join."""
    d = load(spark, sf_dir, "documents")
    return bm25_topk(d, SPARSE_QUERY_DOC, k=20)


def bm25_topk(
    docs: DataFrame,
    query_doc_id: int,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_frac: float | None = TEXT_MAX_DF_FRAC,
) -> DataFrame:
    """(doc_id, n_terms_matched, score) — library form of text_bm25_topk;
    see that docstring. ``max_df_frac`` restricts candidate generation to
    below-cap query terms (scores of admitted docs stay exact over all
    matched terms); ``None`` disables the cap."""
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(text_col, " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)  # feeds dl, df, q, and the join
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = F.broadcast(
        tf.filter(F.col("doc_id") == query_doc_id).select("term").distinct()
    )
    corpus = tf.filter(F.col("doc_id") != query_doc_id)
    if max_df_frac is not None:
        # reuse the df and corpus-size aggregates this query already
        # builds: below-cap query terms generate candidates, the scoring
        # joins run semi-join-restricted to them (no stop-word fan-out)
        qsel = F.broadcast(
            q.join(
                df_t.crossJoin(stats).filter(
                    F.col("df") <= F.col("n_docs") * F.lit(max_df_frac)
                ).select("term"),
                "term",
            )
        )
        cand = corpus.join(qsel, "term").select("doc_id").distinct()
        corpus = corpus.join(cand, "doc_id", "left_semi")
    idf = F.round(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 9
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    partials = (
        corpus.join(q, "term")
        .join(df_t, "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .select(
            "doc_id",
            F.round(idf * tf_part, 9).cast("decimal(20,9)").alias("partial"),
        )
    )
    return (
        partials.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("partial").alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            "n_terms_matched",
            F.round(F.col("s").cast("double"), 6).alias("score"),
        )
    )


def _bigrams() -> Column:
    """Array of the adjacent-token bigrams ("w1 w2") of token array ``w``."""
    n = F.size("w")
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(2), n),
            lambda i: F.concat_ws(
                " ", F.element_at("w", i - 1), F.element_at("w", i)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


@register(
    "text_bigram_logprob",
    oracle="""
    WITH ws AS (
        SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    toks AS (SELECT doc_id, UNNEST(w) AS tok FROM ws),
    uni AS (SELECT tok, COUNT(*) AS c1 FROM toks GROUP BY tok),
    voc AS (SELECT COUNT(*) AS v FROM uni),
    bgs AS (
        SELECT doc_id,
               UNNEST(list_transform(range(2, len(w) + 1),
                                     i -> w[i-1] || ' ' || w[i])) AS bg
        FROM ws
    ),
    bi AS (SELECT bg, COUNT(*) AS c12 FROM bgs GROUP BY bg),
    scored AS (
        SELECT bgs.doc_id,
               CAST(ROUND(LN((bi.c12 + 1) * 1.0 / (uni.c1 + voc.v)), 9)
                    AS DECIMAL(18,9)) AS lp
        FROM bgs
        JOIN bi USING (bg)
        JOIN uni ON uni.tok = STRING_SPLIT(bgs.bg, ' ')[1]
        CROSS JOIN voc
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6m — bigram language-model scoring with add-one smoothing: each
    document's average conditional log-likelihood ``ln((C(w1,w2)+1) /
    (C(w1)+V))`` under the corpus's own bigram model — the perplexity
    quality filter one order up from text_unigram_logprob (bigram
    perplexity is what CCNet-class pipelines actually threshold on, since
    word-order violations are invisible to a unigram model).

    Exactness follows the unigram query's dsum rule: per-bigram log-probs
    are rounded to 9 decimals and summed as DECIMAL(18,9), so the sum is
    order-independent; the smoothing arithmetic before ``ln`` is
    integer-exact on both engines.

    Scale: bigram construction is a codegen'd higher-order transform (no
    self-join, no window); the model tables (bigram and unigram counts)
    shuffle-join back onto the bigram stream by key — at 100 TB the bigram
    vocabulary outgrows a broadcast, and this plan's two key-partitioned
    joins are exactly how you'd score it on a 1000-executor cluster."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    toks = ws.select("doc_id", F.explode("w").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    voc = uni.agg(F.count(F.lit(1)).alias("v"))
    bigrams = _bigrams()
    bgs = ws.select("doc_id", F.explode(bigrams).alias("bg"))
    bi = bgs.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    lp = F.round(
        F.log((F.col("c12") + 1) * 1.0 / (F.col("c1") + F.col("v"))), 9
    ).cast("decimal(18,9)")
    scored = (
        bgs.join(bi, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(uni, F.col("w1") == F.col("tok"))
        .crossJoin(F.broadcast(voc))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_logprob"
        ),
    )


@register(
    "text_collocations_pmi",
    oracle="""
    WITH ws AS (
        SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    toks AS (SELECT UNNEST(w) AS tok FROM ws),
    uni AS (SELECT tok, COUNT(*) AS c1 FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c1) AS t FROM uni),
    bgs AS (
        SELECT UNNEST(list_transform(range(2, len(w) + 1),
                                     i -> w[i-1] || ' ' || w[i])) AS bg
        FROM ws
    ),
    bi AS (SELECT bg, COUNT(*) AS c12 FROM bgs GROUP BY bg
           HAVING COUNT(*) >= 5),
    scored AS (
        SELECT b.bg, b.c12, u1.c1 AS cx, u2.c1 AS cy,
               ROUND(LN(CAST(b.c12 AS DOUBLE) * t.t
                        / (CAST(u1.c1 AS DOUBLE) * u2.c1)), 6) AS pmi
        FROM bi b
        JOIN uni u1 ON u1.tok = STRING_SPLIT(b.bg, ' ')[1]
        JOIN uni u2 ON u2.tok = STRING_SPLIT(b.bg, ' ')[2]
        CROSS JOIN tot t
    )
    SELECT bg, c12, cx, cy, pmi
    FROM scored
    ORDER BY pmi DESC, bg
    LIMIT 50
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6n — collocation extraction by pointwise mutual information: the
    top-50 adjacent word pairs whose co-occurrence beats chance,
    ``PMI = ln(N·c(x,y) / (c(x)·c(y)))`` with a min-support floor of 5
    (PMI without support explodes on hapax pairs — the standard guard).
    This is how phrase vocabularies ("new york", "machine learning") are
    mined before tokenizer training and how boilerplate n-grams surface.

    Exactness: all counts are integers; PMI is one ln over an exact
    rational, rounded to 6 (the unigram-logprob rule). Top-50 carries a
    lexicographic tiebreak so the LIMIT is deterministic.

    Scale: bigram construction is the codegen'd transform from
    text_bigram_logprob; the two count tables key-join (the bigram table
    outgrows broadcasts at corpus scale, and this plan already shuffles
    by key); the final ORDER BY … LIMIT is TakeOrderedAndProject."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = d.select(F.split(F.lower(F.trim(F.col("text"))), " ").alias("w"))
    toks = ws.select(F.explode("w").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    tot = uni.agg(F.sum("c1").alias("t"))
    bigrams = _bigrams()
    bi = (
        ws.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c1").alias("cx"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c1").alias("cy"))
    scored = (
        bi.withColumn("w1", F.split("bg", " ").getItem(0))
        .withColumn("w2", F.split("bg", " ").getItem(1))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bg",
            "c12",
            "cx",
            "cy",
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("t")
                    / (F.col("cx").cast("double") * F.col("cy"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("bg")).limit(50)


@register(
    "text_zipf_slope",
    oracle="""
    WITH toks AS (
        SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ),
    freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r
        FROM freq
    ),
    pts AS (
        SELECT CAST(ROUND(LN(r), 9) AS DECIMAL(18,9)) AS x,
               CAST(ROUND(LN(c), 9) AS DECIMAL(18,9)) AS y
        FROM ranked
    ),
    m AS (
        SELECT COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
               SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx
        FROM pts
    )
    SELECT n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS zipf_slope
    FROM m
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6o — Zipf-law conformance: the OLS slope of ln(frequency) against
    ln(rank) over the corpus vocabulary. Natural text sits near −1;
    boilerplate-heavy or template-generated corpora flatten toward 0 and
    spam blows the tail — a one-number corpus-health check run per crawl
    snapshot. Same closed-form-OLS-on-exact-moments recipe as
    ts_trend_ols: per-point logs rounded to 9 and summed as decimals
    (order-independent), slope = (n·Σxy − ΣxΣy)/(n·Σxx − Σx²) as one
    fixed IEEE sequence. Rank ties broken lexicographically so the
    rank assignment is engine-identical.

    Scale: vocab aggregation combines map-side; the regression runs over
    vocabulary cardinality, not corpus size — and the global rank is the
    two-phase bucketed numbering (log2-frequency shards + broadcast
    offsets), so even a billion-term vocab never funnels through one
    task."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # Global rank WITHOUT a SinglePartition window (audited against): the
    # export_global_rownum two-phase pattern, with log2-frequency buckets
    # as the ordered shards (monotone in c, so bucket order == rank order;
    # ties share a bucket). Offsets are O(64) driver scalars.
    bucketed = freq.withColumn("bkt", F.floor(F.log2("c")).cast("long"))
    w = Window.partitionBy("bkt").orderBy(F.desc("c"), F.asc("tok"))
    within = bucketed.withColumn("rn", F.row_number().over(w))
    counts = dict(
        (r["bkt"], r["n"])
        for r in bucketed.groupBy("bkt").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    acc, offset_rows = 0, []
    for bkt in sorted(counts, reverse=True):  # highest frequencies rank first
        offset_rows.append((bkt, acc))
        acc += counts[bkt]
    offsets = F.broadcast(
        spark.createDataFrame(offset_rows, "bkt long, offset long")
    )
    ranked = within.join(offsets, "bkt").select(
        "c", (F.col("offset") + F.col("rn")).alias("r")
    )
    x = F.round(F.log("r"), 9).cast("decimal(18,9)")
    y = F.round(F.log("c"), 9).cast("decimal(18,9)")
    pts = ranked.select(x.alias("x"), y.alias("y"))
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,18)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,18)")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        "n",
        F.round(
            (nd * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / (nd * F.col("sxx").cast("double")
               - F.col("sx").cast("double") * F.col("sx").cast("double")),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "text_ngram_novelty",
    oracle="""
    WITH ws AS (
        SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS w
        FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(4, len(w) + 1),
                                     i -> w[i-3] || ' ' || w[i-2] || ' '
                                          || w[i-1] || ' ' || w[i])) AS g
        FROM ws
    ),
    df AS (SELECT g, COUNT(*) AS docs FROM grams GROUP BY g)
    SELECT grams.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df.docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           (20 * SUM(CASE WHEN df.docs = 1 THEN 1 ELSE 0 END)
              >= 19 * COUNT(*)) AS is_novel_doc
    FROM grams JOIN df ON df.g = grams.g
    GROUP BY grams.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6p — n-gram NOVELTY scoring: per document, how many of its
    distinct 4-grams appear in NO other document — the inverse of the
    contamination check (dedup_contamination asks "is this eval data?";
    novelty asks "is this document contributing anything the corpus
    doesn't already have?"). Low-novelty docs are re-hashes — prime
    dedup/downsample candidates; the ≥95% flag (cross-multiplied
    ``20·novel ≥ 19·total``, integer-exact) marks genuinely fresh docs.

    Scale: distinct doc-grams explode once, the document-frequency table
    aggregates map-side, and the join back is by gram key — the inverted-
    index profile. A doc's own duplicate grams are collapsed by the
    DISTINCT before counting, so boilerplate inside one doc doesn't
    inflate its novelty."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ws = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    n = F.size("w")
    grams4 = F.when(
        n >= 4,
        F.transform(
            F.sequence(F.lit(4), n),
            lambda i: F.concat_ws(
                " ",
                F.element_at("w", i - 3),
                F.element_at("w", i - 2),
                F.element_at("w", i - 1),
                F.element_at("w", i),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = ws.select("doc_id", F.explode(grams4).alias("g")).distinct()
    df_tbl = grams.groupBy("g").agg(F.count(F.lit(1)).alias("docs"))
    novel = F.sum(F.when(F.col("docs") == 1, 1).otherwise(0))
    return (
        grams.join(df_tbl, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            (20 * novel >= 19 * F.count(F.lit(1))).alias("is_novel_doc"),
        )
    )


@register(
    "eval_langid_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               LEN(LIST_INTERSECT(STRING_SPLIT(LOWER(text), ' '),
                                  {_MARKERS['en']!r})) AS en_hits,
               LEN(LIST_INTERSECT(STRING_SPLIT(LOWER(text), ' '),
                                  {_MARKERS['es']!r})) AS es_hits,
               LEN(LIST_INTERSECT(STRING_SPLIT(LOWER(text), ' '),
                                  {_MARKERS['de']!r})) AS de_hits
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CASE WHEN en_hits >= es_hits AND en_hits >= de_hits
                         AND en_hits > 0 THEN 'en'
                    WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                    WHEN de_hits > 0 THEN 'de'
                    ELSE 'und' END AS pred_lang
        FROM scored
    ),
    gt AS (SELECT lang, COUNT(*) AS gold_total FROM pred GROUP BY lang),
    cm AS (
        SELECT lang, pred_lang, COUNT(*) AS n
        FROM pred GROUP BY lang, pred_lang
    )
    SELECT cm.lang, cm.pred_lang, cm.n,
           ROUND(cm.n * 1.0 / gt.gold_total, 6) AS share
    FROM cm JOIN gt ON gt.lang = cm.lang
    """,
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6b-eval — language-ID confusion matrix: the marker-token detector
    (the registered ``text_langid``, via the shared ``langid_predictions``
    frame) scored against the gold ``lang`` column as per-(gold,
    predicted) counts and per-gold-class shares — diagonal rows are
    recall, off-diagonal rows show where the heuristic's coverage gap
    lands (fr/zh have no marker set, so their mass flows to 'und'/false
    classes). The detector-QA twin of ``eval_dedup_pair_metrics``.

    Scale shape: the detector is map-side; the evaluation is one
    (gold, pred) aggregate — |langs|² rows at most — plus a broadcast
    join to the per-gold totals (an equi join on the gold key, not a
    global window)."""
    pred = langid_predictions(load(spark, sf_dir, "documents")).select(
        "lang", "pred_lang"
    )
    gt = pred.groupBy("lang").agg(F.count(F.lit(1)).alias("gold_total"))
    cm = pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    return cm.join(F.broadcast(gt), "lang").select(
        "lang",
        "pred_lang",
        "n",
        F.round(F.col("n") * 1.0 / F.col("gold_total"), 6).alias("share"),
    )


#: Minimum combined term frequency for keyness scoring — LLR on hapax terms
#: is noise (same guard class as the PMI min-support floor).
KEYNESS_MIN_COUNT = 20


@register(
    "text_keyness_llr",
    oracle=f"""
    WITH toks AS (
        SELECT lang = 'en' AS focus,
               UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS term
        FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
        SELECT term,
               CAST(SUM(CASE WHEN focus THEN 1 ELSE 0 END) AS BIGINT) AS k1,
               CAST(SUM(CASE WHEN focus THEN 0 ELSE 1 END) AS BIGINT) AS k2
        FROM toks GROUP BY term
    ),
    tot AS (
        SELECT CAST(SUM(k1) AS BIGINT) AS n1, CAST(SUM(k2) AS BIGINT) AS n2
        FROM counts
    )
    SELECT term, k1 AS focus_count, k2 AS ref_count,
           ROUND(2.0 * (
               (CASE WHEN k1 = 0 THEN 0.0 ELSE
                   k1 * LN(CAST(k1 AS DOUBLE) * (n1 + n2)
                           / (CAST(n1 AS DOUBLE) * (k1 + k2))) END)
             + (CASE WHEN k2 = 0 THEN 0.0 ELSE
                   k2 * LN(CAST(k2 AS DOUBLE) * (n1 + n2)
                           / (CAST(n2 AS DOUBLE) * (k1 + k2))) END)
           ), 6) AS llr,
           CASE WHEN k1 * n2 > k2 * n1 THEN 'focus' ELSE 'reference' END
             AS overused_in
    FROM counts CROSS JOIN tot
    WHERE k1 + k2 >= {KEYNESS_MIN_COUNT}
    """,
)
def text_keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6s — corpus keyness by Dunning's (1993) log-likelihood ratio: for
    every term, how surprising its frequency split between a focus corpus
    (lang = 'en') and the reference (all other languages) is under the
    null of one shared rate — the standard corpus-linguistics test for
    "which words characterize THIS corpus", and in a training-data
    pipeline the domain-signature / corpus-drift detector (compare a new
    crawl snapshot against the curated corpus and read the top LLR terms).
    ``overused_in`` carries the direction via exact integer
    cross-multiplication (k1·n2 vs k2·n1 — no rate division, no float
    tie ambiguity).

    Exactness: all counts integer; LLR is two ``ln`` calls over exact
    integer rationals combined and rounded at 6dp (the PMI/unigram-logprob
    rule — both engines' libm ln agree far below 1e-6 on identical
    doubles). Zero counts contribute exactly 0 (the k·ln(k/E) → 0 limit),
    handled by the same CASE on both engines.

    Scale: one token explode + one map-side-combined (term) aggregate —
    the conditional focus/reference split rides the SAME aggregate (no
    second pass, no join of two per-corpus count tables); the totals are
    a 1-row broadcast. Linear in corpus tokens, |vocab|-sized output."""
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            (F.col("lang") == "en").alias("focus"),
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("term"),
        )
    )
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("focus"), 1).otherwise(0)).alias("k1"),
        F.sum(F.when(F.col("focus"), 0).otherwise(1)).alias("k2"),
    )
    tot = F.broadcast(
        counts.agg(F.sum("k1").alias("n1"), F.sum("k2").alias("n2"))
    )
    k1, k2 = F.col("k1"), F.col("k2")
    n1, n2 = F.col("n1"), F.col("n2")
    term1 = F.when(k1 == 0, F.lit(0.0)).otherwise(
        k1
        * F.log(
            k1.cast("double") * (n1 + n2) / (n1.cast("double") * (k1 + k2))
        )
    )
    term2 = F.when(k2 == 0, F.lit(0.0)).otherwise(
        k2
        * F.log(
            k2.cast("double") * (n1 + n2) / (n2.cast("double") * (k1 + k2))
        )
    )
    return (
        counts.crossJoin(tot)
        .filter(k1 + k2 >= KEYNESS_MIN_COUNT)
        .select(
            "term",
            k1.alias("focus_count"),
            k2.alias("ref_count"),
            F.round(2.0 * (term1 + term2), 6).alias("llr"),
            F.when(k1 * n2 > k2 * n1, F.lit("focus"))
            .otherwise(F.lit("reference"))
            .alias("overused_in"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al., ACL'16) — distributed, exact

#: Number of learned merges (unrolled identically in the SQL oracle).
BPE_MERGES = 10

#: Doc-id cap bounding the ORACLE's 10-round recount; the engine's
#: per-round cost is one pair-count aggregate + one per-row rewrite,
#: linear in corpus size, and needs no cap.
BPE_MAX_DOC = 600


def _bpe_sql() -> str:
    """Unrolled DuckDB twin: same init (space → '_', char symbols), same
    greedy left-to-right REPLACE rewrite, same (count DESC, pair) argmax."""
    sql = [
        f"""
    WITH d0 AS MATERIALIZED (
        SELECT doc_id,
               ' ' || array_to_string(
                   string_split(REPLACE(LOWER(TRIM(text)), ' ', '_'), ''),
                   ' ') || ' ' AS s
        FROM documents WHERE doc_id < {BPE_MAX_DOC}
    )"""
    ]
    for k in range(1, BPE_MERGES + 1):
        sql.append(
            f""",
    p{k} AS MATERIALIZED (
        SELECT SPLIT_PART(pair, CHR(1), 1) AS pa,
               SPLIT_PART(pair, CHR(1), 2) AS pb,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT UNNEST(list_filter(
                list_transform(ws, (x, i) ->
                    IF(i < LEN(ws), x || CHR(1) || ws[i + 1], NULL)),
                v -> v IS NOT NULL)) AS pair
            FROM (SELECT string_split(TRIM(s), ' ') AS ws FROM d{k - 1})
        ) GROUP BY 1, 2
    ),
    m{k} AS MATERIALIZED (
        SELECT {k} AS step, pa, pb, pa || pb AS merged, cnt
        FROM p{k} ORDER BY cnt DESC, pa, pb LIMIT 1
    ),
    d{k} AS MATERIALIZED (
        SELECT doc_id,
               REPLACE(s,
                       ' ' || (SELECT pa FROM m{k}) || ' '
                           || (SELECT pb FROM m{k}) || ' ',
                       ' ' || (SELECT merged FROM m{k}) || ' ') AS s
        FROM d{k - 1}
    )"""
        )
    sql.append(
        "\n    "
        + "\n    UNION ALL ".join(
            f"SELECT step, pa AS left_sym, pb AS right_sym, merged, cnt FROM m{k}"
            for k in range(1, BPE_MERGES + 1)
        )
    )
    return "".join(sql)


@register("text_bpe_train", oracle=_bpe_sql())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T — byte-pair-encoding merge training (Sennrich et al. ACL'16 —
    the tokenizer-training algorithm under GPT/Llama vocabularies),
    distributed and EXACT: init every doc as a space-joined character
    sequence (corpus spaces become the '_' word-boundary symbol), then
    ``BPE_MERGES`` rounds of (1) count adjacent symbol pairs across the
    corpus — one map-side-combined aggregate, (2) pick the most frequent
    pair (count DESC, then lexicographic — a deterministic 1-row
    TakeOrdered), (3) rewrite every doc, merging that pair's
    non-overlapping occurrences left-to-right (single-pass string
    REPLACE — measured identical greedy semantics in both engines; the
    trailing-separator consumption IS the non-overlap rule). Output: the
    learned merge table (step, pair, merged symbol, support).

    This is the canonical "driver ships K scalars per round, corpus
    never leaves the cluster" iterative shape: per round one aggregate
    + one narrow per-row map; at 100 TB each round is a single shuffle
    of (pair, count) partials bounded by the symbol-pair vocabulary,
    not the corpus. The oracle replays all ten rounds as unrolled CTEs
    (CHR(1)-delimited pair keys, scalar-subquery rewrites).

    A pytest replays the algorithm in pure Python (dict counts + list
    scan) and checks the merge table matches step for step."""
    # r16 (the spectral-trio bounded-driver-merge precedent, guide §5):
    # the DECLARED input is capped at BPE_MAX_DOC docs on both engines —
    # a corpus-independent constant (~600 docs / ~0.4 MB of character
    # sequence at any SF) — so the 10 merge rounds run on the driver over
    # the once-collected Spark-computed sequences instead of paying 10
    # sequential cluster jobs (measured ~0.31 s of stage+collect latency
    # per round on a quiet box: 3.0-3.4 s -> 0.4 s; merge tables diffed
    # identical). Each round applies the SAME operations the distributed
    # form ran — split on spaces for exact-integer pair counts, argmax by
    # (count desc, pair) with code-point ordering (== Spark's UTF8 binary
    # ordering), then the identical left-to-right non-overlapping string
    # REPLACE — so the table is bit-identical by construction, and the
    # unrolled DuckDB oracle is untouched. For an UNCAPPED corpus the
    # distributed per-round shape (one map-side-combined pair count + one
    # narrow per-row rewrite per round, state = one merge rule) is the
    # 100 TB form; this query's semantics are the capped replay.
    from collections import Counter

    rows = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BPE_MAX_DOC)
        .select(
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
            ).alias("s"),
        )
        .collect()
    )
    # null text yields a NULL sequence: no pairs, never rewritten —
    # exactly the rows the distributed explode dropped
    docs = [r.s for r in rows if r.s is not None]
    merges = []
    for step in range(1, BPE_MERGES + 1):
        counts: Counter = Counter()
        for s in docs:
            toks = s.strip().split(" ")
            counts.update(zip(toks, toks[1:]))
        (pa, pb), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((step, pa, pb, pa + pb, cnt))
        old, new = f" {pa} {pb} ", f" {pa}{pb} "
        docs = [s.replace(old, new) for s in docs]
    return spark.createDataFrame(
        merges, "step bigint, left_sym string, right_sym string, merged string, cnt bigint"
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04)

#: Co-occurrence window (token positions within ±2 form an edge).
TEXTRANK_WINDOW = 2

#: Power-iteration rounds (unrolled identically in the SQL oracle).
TEXTRANK_ROUNDS = 3

#: Keywords reported.
TEXTRANK_TOP = 20


def _tr_round_sql(prev: str, out: str) -> str:
    """One weighted-PageRank round over the token graph: per-edge share
    = rank·w/strength quantized to 12 decimals; damped update."""
    return f"""
    {out}_c AS (
        SELECT s.dst AS t,
               CAST(ROUND(CAST(p.rank AS DOUBLE) * s.w / st.str, 12)
                    AS DECIMAL(20,12)) AS share
        FROM {prev} p
        JOIN tsym s ON s.src = p.t
        JOIN strength st ON st.t = p.t
    ),
    {out} AS (
        SELECT t,
               CAST(ROUND(0.15 + 0.85 * CAST(SUM(share) AS DOUBLE), 12)
                    AS DECIMAL(20,12)) AS rank
        FROM {out}_c GROUP BY t
    )"""


@register(
    "text_textrank_keywords",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS ws
        FROM documents
    ),
    tok AS (
        SELECT doc_id,
               CAST(SPLIT_PART(e, CHR(1), 1) AS INT) AS pos,
               SPLIT_PART(e, CHR(1), 2) AS t
        FROM (SELECT doc_id,
                     UNNEST(list_transform(ws, (x, i) ->
                         i || CHR(1) || x)) AS e
              FROM d)
    ),
    tedges AS (
        SELECT LEAST(a.t, b.t) AS u, GREATEST(a.t, b.t) AS v,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id
         AND b.pos > a.pos AND b.pos - a.pos <= {TEXTRANK_WINDOW}
         AND a.t <> b.t
        GROUP BY 1, 2
    ),
    tsym AS (
        SELECT u AS src, v AS dst, w FROM tedges
        UNION ALL
        SELECT v, u, w FROM tedges
    ),
    strength AS (
        SELECT src AS t, CAST(SUM(w) AS DOUBLE) AS str
        FROM tsym GROUP BY src
    ),
    r0 AS (SELECT t, CAST(1.0 AS DECIMAL(20,12)) AS rank FROM strength),
    """
    + ",".join(
        _tr_round_sql(f"r{i}", f"r{i + 1}") for i in range(TEXTRANK_ROUNDS)
    )
    + f"""
    SELECT t AS token, ROUND(CAST(rank AS DOUBLE), 6) AS rank
    FROM r{TEXTRANK_ROUNDS}
    ORDER BY rank DESC, t LIMIT {TEXTRANK_TOP}
    """,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T — TextRank keyword extraction (Mihalcea & Tarau EMNLP'04): build
    the token co-occurrence graph (tokens within ±2 positions in a doc,
    edge weight = corpus co-occurrence count) and rank tokens by
    weighted PageRank — the classic unsupervised keyword scorer, and
    the text-side sibling of ``graph_pagerank_exact``, whose 12-decimal
    share-quantization discipline makes the three damped rounds
    bit-identical across engines (shares here are rank·w/strength, the
    weighted generalization). Top-20 by (rank desc, token).

    Scale: edge building is a per-doc positional self-join bounded by
    doc length × window (never cross-doc), one map-side-combined edge
    aggregate; each PR round is one join + one decimal sum keyed on the
    token — vocabulary-sized state, corpus-sized scan only at edge
    build."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), " ")
        ).alias("pos", "t"),
    )
    a, b = tok.alias("a"), tok.alias("b")
    tedges = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") > F.col("a.pos"))
            & (F.col("b.pos") - F.col("a.pos") <= TEXTRANK_WINDOW)
            & (F.col("a.t") != F.col("b.t")),
        )
        .groupBy(
            F.least(F.col("a.t"), F.col("b.t")).alias("u"),
            F.greatest(F.col("a.t"), F.col("b.t")).alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    tsym = both_ways(tedges, "w").localCheckpoint(eager=True)
    strength = tsym.groupBy(F.col("src").alias("t")).agg(
        F.sum("w").cast("double").alias("str")
    ).localCheckpoint(eager=True)

    def step(ranks: DataFrame) -> DataFrame:
        shares = (
            ranks.join(strength, "t")
            .join(tsym, F.col("t") == F.col("src"))
            .select(
                F.col("dst").alias("t2"),
                q12(
                    F.col("rank").cast("double") * F.col("w") / F.col("str")
                ).alias("share"),
            )
        )
        return shares.groupBy(F.col("t2").alias("t")).agg(
            q12(
                F.lit(0.15) + F.lit(0.85) * F.sum("share").cast("double")
            ).alias("rank")
        )

    ranks = strength.select(
        "t", F.lit(1.0).cast("decimal(20,12)").alias("rank")
    )
    ranks = iterate(ranks, step, TEXTRANK_ROUNDS)
    return (
        ranks.select(
            F.col("t").alias("token"),
            F.round(F.col("rank").cast("double"), 6).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "token")
        .limit(TEXTRANK_TOP)
    )


# ---------------------------------------------------------------------------
# Monroe "fightin' words" log-odds (round 11)

#: Per-word Dirichlet pseudo-count and minimum pooled frequency.
MONROE_AW = 0.01
MONROE_MIN_COUNT = 5


@register(
    "text_log_odds_monroe",
    oracle=f"""
    WITH toks AS (
        SELECT (lang = 'en') AS is_a,
               UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
        FROM documents
    ),
    counts AS (
        SELECT w,
               CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
               CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS yb
        FROM toks GROUP BY w
    ),
    kept AS (
        SELECT * FROM counts WHERE ya + yb >= {MONROE_MIN_COUNT}
    ),
    tot AS (
        SELECT CAST(SUM(ya) AS BIGINT) AS na,
               CAST(SUM(yb) AS BIGINT) AS nb,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM kept
    )
    SELECT k.w, k.ya, k.yb,
           ROUND((LN((k.ya + {MONROE_AW})
                     / (t.na + {MONROE_AW} * t.v - k.ya - {MONROE_AW}))
                  - LN((k.yb + {MONROE_AW})
                       / (t.nb + {MONROE_AW} * t.v - k.yb - {MONROE_AW})))
                 / SQRT(1.0 / (k.ya + {MONROE_AW})
                        + 1.0 / (k.yb + {MONROE_AW})), 6) AS z
    FROM kept k CROSS JOIN tot t
    """,
)
def text_log_odds_monroe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 — Monroe/Colaresi/Quinn "fightin' words" log-odds: for every
    token, the Dirichlet-smoothed log-odds-ratio z-score of its usage in
    the English sub-corpus vs the rest — THE standard comparative-corpus
    statistic for "which words characterize group A" (raw frequency
    ratios explode on rare words; the prior and the per-word variance
    1/(y+a) + 1/(y+a) regularize exactly as the 2008 paper prescribes,
    here with a flat pseudo-count a_w = 0.01 and a0 = a_w·V over the
    ≥5-occurrence vocabulary). Every z is ONE fixed IEEE expression over
    exact BIGINT counts and the two corpus totals — no cross-row float
    sum anywhere, so the whole frame hash-checks without term
    quantization.

    Scale shape: explode → one (word)-keyed map-side-combined count →
    one vocabulary-sized filter + a 1-row totals cross join. 100 TB of
    documents is one scan and a vocab-sized table; the z computation is
    embarrassingly per-row (the ``log_odds_monroe`` library form the
    Engine facade exposes)."""
    d = load(spark, sf_dir, "documents")
    return log_odds_monroe(
        d.withColumn("is_a", F.col("lang") == "en"),
        text="text",
        flag="is_a",
    )


def log_odds_monroe(
    df: DataFrame,
    text: str,
    flag: str,
    aw: float = MONROE_AW,
    min_count: int = MONROE_MIN_COUNT,
) -> DataFrame:
    """(w, ya, yb, z) Monroe log-odds z-scores of group-A (``flag`` true)
    vs group-B word usage over an arbitrary text column — the library
    form the Engine facade exposes; ``text_log_odds_monroe`` is its
    registered oracle-checked instance (facade-parity single-source
    rule)."""
    toks = df.select(
        F.col(flag).alias("is_a"),
        F.explode(F.split(F.lower(F.trim(F.col(text))), " ")).alias("w"),
    )
    counts = toks.groupBy("w").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("ya"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).cast("bigint").alias("yb"),
    )
    kept = counts.filter(F.col("ya") + F.col("yb") >= min_count)
    tot = kept.agg(
        F.sum("ya").cast("bigint").alias("na"),
        F.sum("yb").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    aw = F.lit(aw)
    a0 = aw * F.col("v")
    delta = F.log(
        (F.col("ya") + aw) / (F.col("na") + a0 - F.col("ya") - aw)
    ) - F.log((F.col("yb") + aw) / (F.col("nb") + a0 - F.col("yb") - aw))
    var = 1.0 / (F.col("ya") + aw) + 1.0 / (F.col("yb") + aw)
    return kept.crossJoin(F.broadcast(tot)).select(
        "w",
        "ya",
        "yb",
        F.round(delta / F.sqrt(var), 6).alias("z"),
    )


@register(
    "text_ttr_hapax",
    oracle="""
    WITH toks AS (
        SELECT lang, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
        FROM documents
    ),
    counts AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_share
    FROM counts GROUP BY lang
    """,
)
def text_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6 — lexical-richness profile per language: type-token ratio
    (distinct words / total words) and hapax-legomena share (words
    occurring exactly once / vocabulary) — the two classical diversity
    numbers corpus curation thresholds on (machine-generated or
    template-spam text collapses TTR; OCR noise inflates hapax share),
    complementing ``text_diversity_metrics``' per-document view with the
    per-language corpus roll-up. Integer counts; the two ratios are
    single exact-int divisions rounded identically on both engines.

    Scale shape: explode → (lang, word)-keyed map-side-combined count →
    |langs|-row roll-up. One scan at any volume; the vocabulary frame is
    the only intermediate and it is vocab-sized (the ``ttr_hapax``
    library form the Engine facade exposes)."""
    d = load(spark, sf_dir, "documents")
    return ttr_hapax(d, text="text", group="lang")


def ttr_hapax(df: DataFrame, text: str, group: str) -> DataFrame:
    """(group, n_tokens, n_types, n_hapax, ttr, hapax_share)
    lexical-richness profile per group over an arbitrary text column —
    the library form the Engine facade exposes; ``text_ttr_hapax`` is
    its registered oracle-checked instance (facade-parity single-source
    rule)."""
    toks = df.select(
        group,
        F.explode(F.split(F.lower(F.trim(F.col(text))), " ")).alias("w"),
    )
    counts = toks.groupBy(group, "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    return counts.groupBy(group).agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        hapax.alias("n_hapax"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias("ttr"),
        F.round(hapax.cast("double") / F.count(F.lit(1)), 6).alias(
            "hapax_share"
        ),
    )


@register(
    "text_doclen_quantiles",
    oracle="""
    WITH jm AS (
        SELECT lang AS p, CAST(n_chars AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM documents GROUP BY 1, 2
    ),
    cum AS (
        SELECT p, v, f,
               CAST(SUM(f) OVER (
                   PARTITION BY p ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cf,
               CAST(SUM(f) OVER (PARTITION BY p) AS BIGINT) AS n
        FROM jm
    )
    SELECT p AS lang, MIN(n) AS n,
           MIN(CASE WHEN cf * 100 >= 25 * n THEN v END) AS p25,
           MIN(CASE WHEN cf * 100 >= 50 * n THEN v END) AS p50,
           MIN(CASE WHEN cf * 100 >= 75 * n THEN v END) AS p75,
           MIN(CASE WHEN cf * 100 >= 90 * n THEN v END) AS p90
    FROM cum GROUP BY p
    """,
)
def text_doclen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6' — exact document-length quantile bands (p25/p50/p75/p90 of
    n_chars) per language: the length distribution every dataset card
    tabulates and every chunking/packing budget is tuned against —
    here as a second registered INSTANCE of the round-12
    ``quantile_bands`` library operator (operators/aggregates.py),
    demonstrating the facade generalizes beyond the lineitem fixture:
    same type-1 integer test, same domain-matrix plan, a different
    table and grouping. Length domains are thousands of distinct
    values — still matrix-sized, never row-sized.

    Scale shape: one map-side-combined (lang, n_chars) count, matrix
    windows, a |langs|-row roll-up."""
    from avro_parquet_spark_example_spark.operators.aggregates import (
        quantile_bands,
    )

    d = load(spark, sf_dir, "documents")
    return quantile_bands(
        d, group="lang", value="n_chars"
    ).withColumnRenamed("grp", "lang")


# --------------------------------------------------------------------------
# Corpus BLEU-2 (Papineni et al. 2002) — generation-eval metric
# --------------------------------------------------------------------------


#: DuckDB CTEs shared by the BLEU and ROUGE oracles: each document paired
#: with the next one of its 100-id block (``p``: cand, ref), and the
#: per-pair unigram (cu/ru) and bigram (cb/rb) counts of both texts.
_NGRAM_PAIRS_DUCK = """pairs AS (
        SELECT lang, doc_id, text AS cand,
               LEAD(text) OVER (
                   PARTITION BY lang, doc_id // 100 ORDER BY doc_id
               ) AS ref
        FROM documents
    ),
    p AS (SELECT * FROM pairs WHERE ref IS NOT NULL),
    cu AS (
        SELECT lang, doc_id, u.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM p, LATERAL (SELECT UNNEST(STRING_SPLIT(cand, ' ')) AS tok) u
        GROUP BY 1, 2, 3
    ),
    ru AS (
        SELECT lang, doc_id, u.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM p, LATERAL (SELECT UNNEST(STRING_SPLIT(ref, ' ')) AS tok) u
        GROUP BY 1, 2, 3
    ),
    cb AS (
        SELECT lang, doc_id, b.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT lang, doc_id, STRING_SPLIT(cand, ' ') AS w FROM p),
             LATERAL (SELECT UNNEST([w[CAST(i AS INT)] || ' ' ||
                                     w[CAST(i AS INT) + 1]
                                     FOR i IN RANGE(1, LEN(w))]) AS tok) b
        GROUP BY 1, 2, 3
    ),
    rb AS (
        SELECT lang, doc_id, b.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT lang, doc_id, STRING_SPLIT(ref, ' ') AS w FROM p),
             LATERAL (SELECT UNNEST([w[CAST(i AS INT)] || ' ' ||
                                     w[CAST(i AS INT) + 1]
                                     FOR i IN RANGE(1, LEN(w))]) AS tok) b
        GROUP BY 1, 2, 3
    )"""


@register(
    "eval_bleu_corpus",
    oracle=f"""
    WITH {_NGRAM_PAIRS_DUCK},
    clip1 AS (
        SELECT cu.lang, CAST(SUM(LEAST(cu.c, ru.c)) AS BIGINT) AS m
        FROM cu JOIN ru USING (lang, doc_id, tok) GROUP BY 1
    ),
    clip2 AS (
        SELECT cb.lang, CAST(SUM(LEAST(cb.c, rb.c)) AS BIGINT) AS m
        FROM cb JOIN rb USING (lang, doc_id, tok) GROUP BY 1
    ),
    lens AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(LEN(STRING_SPLIT(cand, ' '))) AS BIGINT) AS c_len,
               CAST(SUM(LEN(STRING_SPLIT(ref, ' '))) AS BIGINT) AS r_len,
               CAST(SUM(LEN(STRING_SPLIT(cand, ' ')) - 1) AS BIGINT)
                   AS c_len2
        FROM p GROUP BY 1
    )
    SELECT l.lang, l.n_pairs, l.c_len, l.r_len,
           ROUND(CAST(c1.m AS DOUBLE) / l.c_len, 6) AS p1,
           ROUND(CAST(c2.m AS DOUBLE) / l.c_len2, 6) AS p2,
           ROUND(CASE WHEN l.c_len >= l.r_len THEN 1.0
                      ELSE EXP(1.0 - CAST(l.r_len AS DOUBLE) / l.c_len)
                 END, 6) AS bp,
           ROUND((CASE WHEN l.c_len >= l.r_len THEN 1.0
                       ELSE EXP(1.0 - CAST(l.r_len AS DOUBLE) / l.c_len)
                  END)
                 * SQRT((CAST(c1.m AS DOUBLE) / l.c_len)
                        * (CAST(c2.m AS DOUBLE) / l.c_len2)), 6) AS bleu2
    FROM lens l
    JOIN clip1 c1 USING (lang) JOIN clip2 c2 USING (lang)
    """,
)
def eval_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-eval — corpus-level BLEU-2 (Papineni et al. 2002): modified
    (clipped) unigram and bigram precision with the brevity penalty,
    geometric-mean combined — the standard generation-eval metric,
    computed fully distributed. Fixture pairing: candidate = each doc,
    reference = the next doc of the same language within its 100-id
    block (a bounded LEAD window — the pairing is fixture machinery;
    production callers supply (cand, ref) pairs and start at the n-gram
    expansion below).

    Exactness: clipped matches Σ min(count_cand, count_ref) and all
    token lengths are exact integers; p1/p2/BP/BLEU are fixed-order
    IEEE expressions over those integers (one exp, one sqrt), rounded
    to 6 on both engines. Per-lang grouping keeps 5 output rows with
    full integer audit columns.

    Scale: n-gram expansion is a per-row JVM transform (no Python);
    the clip join keys on (pair, ngram) — per-document-pair local, so
    cardinality is corpus tokens, and the per-(pair,token) counts
    partial-aggregate before the join shuffle. No global state."""
    return bleu_corpus(_lead_pairs(spark, sf_dir))


def _lead_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture pairing shared by eval_bleu_corpus / eval_rouge_n:
    candidate = each doc, reference = the next doc of the same language
    within its 100-id block (a bounded LEAD window)."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy(
        "lang", F.expr("doc_id div 100")
    ).orderBy("doc_id")
    return (
        d.select("lang", "doc_id", F.col("text").alias("cand"))
        .withColumn("ref", F.lead("cand").over(w))
        .filter(F.col("ref").isNotNull())
    )


def _ngram_clip_counts(p: DataFrame) -> DataFrame:
    """Shared clipped-match machinery for corpus BLEU/ROUGE over a
    normalized (lang, doc_id, cand, ref) pairs frame: one frame
    (lang, m1, m2) of per-lang Σ min(count_cand, count_ref) for
    unigrams and bigrams.

    One aggregation pass (r15): the four n-gram streams (cand/ref ×
    unigram/bigram) are tagged with (n, ic) literals, union-all'd,
    and clipped by conditional aggregation — per (lang, doc_id, n,
    tok) the cand/ref counts are two conditional sums of ONE
    aggregate, and Σ least(c, rc) equals the former inner join's
    Σ least: a token present on only one side contributes
    least(c, 0) = 0, exactly the rows the join dropped. The former
    shape ran four separate explode+count pipelines joined twice on
    (lang, doc_id, tok) (measured 14 Exchanges / 8 BHJ per
    consumer); this one unions the generator outputs into two
    exchanges. (A single-explode variant building a combined
    array<struct> per row was A/B-measured SLOWER — the per-row
    array-of-struct materialization costs more than the saved
    generator pipelines; the union keeps each explode on the cheap
    codegen split path.)

    Exact-equivalence notes (both asserted by the consumers' DuckDB
    oracles and Python-reference tests):

    * The old double inner join dropped a lang having NO co-occurring
      tok for either n (each joined term is ≥ 1, so presence ⟺
      m_n ≥ 1); the trailing m1/m2 > 0 filter reproduces that, with
      an all-NULL conditional sum (no bigram rows at all) filtered by
      the same predicate.
    """

    def grams(col: str, n: int) -> Column:
        if n == 1:
            return F.explode(F.split(F.col(col), " "))
        return F.explode(
            F.expr(
                f"transform(slice(split({col}, ' '), 1, "
                f"size(split({col}, ' ')) - 1), "
                f"(x, i) -> concat(x, ' ', split({col}, ' ')[i + 1]))"
            )
        )

    def stream(col: str, n: int, ic: int) -> DataFrame:
        return p.select(
            "lang",
            "doc_id",
            F.lit(n).alias("n"),
            F.lit(ic).alias("ic"),
            grams(col, n).alias("tok"),
        )

    tagged = (
        stream("cand", 1, 1)
        .unionByName(stream("cand", 2, 1))
        .unionByName(stream("ref", 1, 0))
        .unionByName(stream("ref", 2, 0))
    )
    per_tok = tagged.groupBy("lang", "doc_id", "n", "tok").agg(
        F.sum("ic").cast("bigint").alias("c"),
        F.sum(1 - F.col("ic")).cast("bigint").alias("rc"),
    )
    return (
        per_tok.groupBy("lang")
        .agg(
            F.sum(F.when(F.col("n") == 1, F.least("c", "rc")))
            .cast("bigint")
            .alias("m1"),
            F.sum(F.when(F.col("n") == 2, F.least("c", "rc")))
            .cast("bigint")
            .alias("m2"),
        )
        .where((F.col("m1") > 0) & (F.col("m2") > 0))
    )


def bleu_corpus(
    pairs: DataFrame,
    group: str = "lang",
    pair: str = "doc_id",
    cand: str = "cand",
    ref: str = "ref",
) -> DataFrame:
    """(group, n_pairs, c_len, r_len, p1, p2, bp, bleu2) — corpus-level
    BLEU-2 over any (group, pair-id, candidate-text, reference-text)
    frame (the library form the Engine facade exposes;
    ``eval_bleu_corpus`` is its registered oracle-checked instance).
    Texts are whitespace-tokenized; clipped modified precision per
    n-gram order, brevity penalty, geometric mean."""
    p = pairs.select(
        F.col(group).alias("lang"),
        F.col(pair).alias("doc_id"),
        F.col(cand).alias("cand"),
        F.col(ref).alias("ref"),
    )
    p = p.localCheckpoint(eager=True)  # consumed by 2 branches below
    clips = _ngram_clip_counts(p)  # (lang, m1, m2), one corpus pass
    lens = p.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.size(F.split("cand", " "))).cast("bigint").alias("c_len"),
        F.sum(F.size(F.split("ref", " "))).cast("bigint").alias("r_len"),
        F.sum(F.size(F.split("cand", " ")) - 1)
        .cast("bigint")
        .alias("c_len2"),
    )
    bp = F.when(F.col("c_len") >= F.col("r_len"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("r_len").cast("double") / F.col("c_len"))
    )
    p1 = F.col("m1").cast("double") / F.col("c_len")
    p2 = F.col("m2").cast("double") / F.col("c_len2")
    return (
        lens.join(clips, "lang")
        .select(
            F.col("lang").alias(group),
            "n_pairs",
            "c_len",
            "r_len",
            F.round(p1, 6).alias("p1"),
            F.round(p2, 6).alias("p2"),
            F.round(bp, 6).alias("bp"),
            F.round(bp * F.sqrt(p1 * p2), 6).alias("bleu2"),
        )
    )


@register(
    "eval_rouge_n",
    oracle=f"""
    WITH {_NGRAM_PAIRS_DUCK},
    m1 AS (
        SELECT cu.lang, CAST(SUM(LEAST(cu.c, ru.c)) AS BIGINT) AS m
        FROM cu JOIN ru USING (lang, doc_id, tok) GROUP BY 1
    ),
    m2 AS (
        SELECT cb.lang, CAST(SUM(LEAST(cb.c, rb.c)) AS BIGINT) AS m
        FROM cb JOIN rb USING (lang, doc_id, tok) GROUP BY 1
    ),
    lens AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(LEN(STRING_SPLIT(cand, ' '))) AS BIGINT) AS c1,
               CAST(SUM(LEN(STRING_SPLIT(ref, ' '))) AS BIGINT) AS r1,
               CAST(SUM(LEN(STRING_SPLIT(cand, ' ')) - 1) AS BIGINT) AS c2,
               CAST(SUM(LEN(STRING_SPLIT(ref, ' ')) - 1) AS BIGINT) AS r2
        FROM p GROUP BY 1
    )
    SELECT l.lang, l.n_pairs,
           ROUND(CAST(a.m AS DOUBLE) / l.r1, 6) AS rouge1_recall,
           ROUND(CAST(a.m AS DOUBLE) / l.c1, 6) AS rouge1_precision,
           ROUND(2.0 * a.m / (l.r1 + l.c1), 6) AS rouge1_f1,
           ROUND(CAST(b.m AS DOUBLE) / l.r2, 6) AS rouge2_recall,
           ROUND(CAST(b.m AS DOUBLE) / l.c2, 6) AS rouge2_precision,
           ROUND(2.0 * b.m / (l.r2 + l.c2), 6) AS rouge2_f1
    FROM lens l JOIN m1 a USING (lang) JOIN m2 b USING (lang)
    """,
)
def eval_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-eval — corpus ROUGE-1/ROUGE-2 (Lin 2004): clipped n-gram
    RECALL against the reference (the summarization-eval complement of
    eval_bleu_corpus's precision), plus precision and F1, per language.
    Same bounded LEAD pairing fixture and the same clipped-match
    machinery as BLEU — the two metrics share Σ min(count_cand,
    count_ref); only the denominator side differs (reference lengths
    for recall, candidate lengths for precision).

    Exactness: every numerator/denominator is an exact integer; each
    emitted metric is one IEEE division (the F1 identity
    2m/(r+c) — algebraically equal to the harmonic mean of the two
    ratios — is used so the result is ONE division instead of a
    composition whose intermediate rounding could differ), rounded 6.

    Scale: identical to eval_bleu_corpus — per-row n-gram transform,
    (pair, ngram)-keyed partial-aggregated clip join, per-lang fold."""
    return rouge_n(_lead_pairs(spark, sf_dir))


def rouge_n(
    pairs: DataFrame,
    group: str = "lang",
    pair: str = "doc_id",
    cand: str = "cand",
    ref: str = "ref",
) -> DataFrame:
    """(group, n_pairs, rouge1/2 recall/precision/f1) — corpus
    ROUGE-1/ROUGE-2 over any (group, pair-id, candidate-text,
    reference-text) frame (the library form the Engine facade exposes;
    ``eval_rouge_n`` is its registered oracle-checked instance). Shares
    the clipped-match machinery with :func:`bleu_corpus`."""
    p = pairs.select(
        F.col(group).alias("lang"),
        F.col(pair).alias("doc_id"),
        F.col(cand).alias("cand"),
        F.col(ref).alias("ref"),
    )
    p = p.localCheckpoint(eager=True)
    clips = _ngram_clip_counts(p)  # (lang, m1, m2), one corpus pass
    lens = p.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.size(F.split("cand", " "))).cast("bigint").alias("c1"),
        F.sum(F.size(F.split("ref", " "))).cast("bigint").alias("r1"),
        F.sum(F.size(F.split("cand", " ")) - 1).cast("bigint").alias("c2"),
        F.sum(F.size(F.split("ref", " ")) - 1).cast("bigint").alias("r2"),
    )
    return (
        lens.join(clips, "lang")
        .select(
            F.col("lang").alias(group),
            "n_pairs",
            F.round(F.col("m1").cast("double") / F.col("r1"), 6).alias(
                "rouge1_recall"
            ),
            F.round(F.col("m1").cast("double") / F.col("c1"), 6).alias(
                "rouge1_precision"
            ),
            F.round(
                2.0 * F.col("m1") / (F.col("r1") + F.col("c1")), 6
            ).alias("rouge1_f1"),
            F.round(F.col("m2").cast("double") / F.col("r2"), 6).alias(
                "rouge2_recall"
            ),
            F.round(F.col("m2").cast("double") / F.col("c2"), 6).alias(
                "rouge2_precision"
            ),
            F.round(
                2.0 * F.col("m2") / (F.col("r2") + F.col("c2")), 6
            ).alias("rouge2_f1"),
        )
    )
