"""Hypothesis property tests (SURVEY.md §5 item 3): the Avro translator
over generated schemas, and engine invariants over generated corpora."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from avro_parquet_spark_example_spark.sources import avro_binary as ab
from avro_parquet_spark_example_spark.sources.avro_schema import parse_avro_schema

PRIMITIVES = ["string", "int", "long", "float", "double", "boolean", "bytes"]

field_names = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)


def avro_types(depth: int = 2):
    base = st.sampled_from(PRIMITIVES)
    if depth == 0:
        return base
    inner = avro_types(depth - 1)
    return st.one_of(
        base,
        st.tuples(st.sampled_from(PRIMITIVES)).map(lambda t: [t[0], "null"]),
        inner.map(lambda t: {"type": "array", "items": t}),
        inner.map(lambda t: {"type": "map", "values": t}),
    )


@st.composite
def avro_records(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    names = draw(
        st.lists(field_names, min_size=n, max_size=n, unique=True)
    )
    fields = [
        {"name": name, "type": draw(avro_types())} for name in names
    ]
    return {"type": "record", "name": "Gen", "fields": fields}


@given(avro_records())
@settings(max_examples=150, deadline=None, derandomize=True)
def test_translator_total_on_valid_schemas(schema):
    """Any well-formed record translates; field count, order, and
    nullability (union-with-null ⟺ nullable) are preserved."""
    st_out = parse_avro_schema(schema)
    assert isinstance(st_out, T.StructType)
    assert [f.name for f in st_out.fields] == [f["name"] for f in schema["fields"]]
    for avro_field, spark_field in zip(schema["fields"], st_out.fields):
        is_null_union = isinstance(avro_field["type"], list)
        assert spark_field.nullable == is_null_union


@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_dedup_idempotent_and_canonical(spark, texts):
    """dedup(dedup(X)) == dedup(X), survivors' keys are exactly the distinct
    normalized texts, and each survivor has the minimal doc_id of its group."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def dedup(frame):
        from pyspark.sql import Window

        key = F.sha2(F.lower(F.trim("text")), 256)
        w = Window.partitionBy(key).orderBy("doc_id")
        return (
            frame.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    once = dedup(df).collect()
    twice = dedup(dedup(df)).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))
    expected_groups = {}
    for i, t in rows:
        expected_groups.setdefault(t.lower().strip(), i)
    assert sorted(r.doc_id for r in once) == sorted(expected_groups.values())


@given(avro_records())
@settings(max_examples=150, deadline=None, derandomize=True)
def test_struct_avro_struct_round_trip(schema):
    """parse → export → parse is a fixpoint: the exported Avro schema
    denotes exactly the StructType it was exported from."""
    from avro_parquet_spark_example_spark.sources.avro_schema import (
        struct_to_avro_schema,
    )

    first = parse_avro_schema(schema)
    assert parse_avro_schema(struct_to_avro_schema(first, "Gen")) == first


# ---------------------------------------------------------------------------
# Sign-bit packing (simsearch binary-quantization tier)


@given(
    st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=64,
        max_size=64,
    ),
    st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=64,
        max_size=64,
    ),
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_signbit_pack_matches_reference(spark, va, vb):
    """The Horner fold must agree with a plain Python bit-pack, and the
    packed-code Hamming distance must equal the direct sign-mismatch
    count — for arbitrary float vectors, including zeros (sign(0) packs
    as 0, matching the > 0 predicate on both engines)."""
    from avro_parquet_spark_example_spark.operators.simsearch import (
        hamming,
        signbit_words,
    )

    def ref_words(v):
        out = []
        for j in range(2):
            w = 0
            for x in v[j * 32 : (j + 1) * 32]:
                w = w * 2 + (1 if x > 0 else 0)
            out.append(w)
        return out

    df = spark.createDataFrame(
        [(va, vb)],
        T.StructType(
            [
                T.StructField("a", T.ArrayType(T.FloatType())),
                T.StructField("b", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    row = df.select(
        signbit_words(F.col("a")).alias("ca"),
        signbit_words(F.col("b")).alias("cb"),
        hamming(signbit_words(F.col("a")), signbit_words(F.col("b"))).alias("h"),
    ).collect()[0]
    # float32 storage: recompute the reference on the round-tripped values
    stored = df.collect()[0]
    assert list(row.ca) == ref_words(stored.a)
    assert list(row.cb) == ref_words(stored.b)
    mismatches = sum(
        1 for x, y in zip(stored.a, stored.b) if (x > 0) != (y > 0)
    )
    assert row.h == mismatches


# ---------------------------------------------------------------------------
# Truncated Avro containers fail loudly (malformed-input contract)


def avro_values(t):
    """Values of an ``avro_types()`` type that survive a round trip exactly
    (no NaN; floats drawn at the width they are stored in)."""
    if isinstance(t, list):  # [T, "null"]
        return st.none() | avro_values(t[0])
    if isinstance(t, dict):
        if t["type"] == "array":
            return st.lists(avro_values(t["items"]), max_size=3)
        return st.dictionaries(st.text(max_size=4), avro_values(t["values"]), max_size=3)
    return {
        "string": st.text(max_size=8),
        "int": st.integers(-(2**31), 2**31 - 1),
        "long": st.integers(-(2**63), 2**63 - 1),
        "float": st.floats(allow_nan=False, width=32),
        "double": st.floats(allow_nan=False),
        "boolean": st.booleans(),
        "bytes": st.binary(max_size=8),
    }[t]


@given(avro_records(), st.sampled_from(["null", "deflate"]), st.data())
@settings(max_examples=100, deadline=None, derandomize=True)
def test_truncated_container_keeps_whole_blocks_or_names_the_cut_block(
    tmp_path_factory, schema, codec, data
):
    """A multi-block container cut at any offset past its header reads back
    as exactly the records of the blocks that end at or before the cut, or
    raises ``AvroBinaryError`` naming the file and the offset of the block
    the cut falls in. No other exception, and no other rows."""
    row = st.tuples(*(avro_values(f["type"]) for f in schema["fields"]))
    rows = data.draw(st.lists(row, min_size=2, max_size=12))
    per_block = data.draw(st.integers(1, len(rows) - 1))
    path = tmp_path_factory.getbasetemp() / "truncated.avro"

    def write(n: int) -> bytes:
        ab.write_container(str(path), schema, rows[:n], codec=codec, block_records=per_block)
        return path.read_bytes()

    # blocks are cut every per_block records from the start, so the
    # container of the first k blocks' records ends where block k ends
    whole = {len(write(n)): n for n in [*range(0, len(rows), per_block), len(rows)]}
    blob = write(len(rows))
    cut = data.draw(st.integers(min(whole), len(blob) - 1))
    path.write_bytes(blob[:cut])
    if cut in whole:
        assert list(ab.read_container(str(path))[1]) == rows[: whole[cut]]
    else:
        with pytest.raises(ab.AvroBinaryError) as err:
            list(ab.read_container(str(path))[1])
        named = re.search(r"block at byte (\d+)", str(err.value))
        assert str(path) in str(err.value) and named, str(err.value)
        assert int(named.group(1)) == max(end for end in whole if end < cut)
