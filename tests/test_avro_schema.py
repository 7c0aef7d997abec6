"""Unit tests for the Avro-schema → StructType translator (SURVEY.md §1.2).

The first fixture is the reference's own record shape: the canonical Avro
``User`` schema (name / nullable favorite_color / favorite_numbers array)."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from avro_parquet_spark_example_spark.sources.avro_schema import (
    AvroSchemaError,
    parse_avro_schema,
)

USER_SCHEMA = """
{"namespace": "example.avro", "type": "record", "name": "User",
 "fields": [
   {"name": "name", "type": "string"},
   {"name": "favorite_color", "type": ["string", "null"]},
   {"name": "favorite_numbers", "type": {"type": "array", "items": "int"}}
 ]}
"""


def test_user_schema():
    st = parse_avro_schema(USER_SCHEMA)
    assert st == T.StructType(
        [
            T.StructField("name", T.StringType(), nullable=False),
            T.StructField("favorite_color", T.StringType(), nullable=True),
            T.StructField(
                "favorite_numbers", T.ArrayType(T.IntegerType(), False), nullable=False
            ),
        ]
    )


def test_primitives_and_logical_types():
    st = parse_avro_schema(
        {
            "type": "record",
            "name": "AllTypes",
            "fields": [
                {"name": "l", "type": "long"},
                {"name": "f", "type": "float"},
                {"name": "d", "type": "double"},
                {"name": "b", "type": "boolean"},
                {"name": "raw", "type": "bytes"},
                {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                                          "precision": 12, "scale": 3}},
                {"name": "day", "type": {"type": "int", "logicalType": "date"}},
                {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
                {"name": "lts", "type": {"type": "long",
                                          "logicalType": "local-timestamp-millis"}},
            ],
        }
    )
    fields = {f.name: f.dataType for f in st.fields}
    assert fields["l"] == T.LongType()
    assert fields["f"] == T.FloatType()
    assert fields["raw"] == T.BinaryType()
    assert fields["dec"] == T.DecimalType(12, 3)
    assert fields["day"] == T.DateType()
    assert fields["ts"] == T.TimestampType()
    assert fields["lts"] == T.TimestampNTZType()


def test_nested_record_map_enum_fixed():
    st = parse_avro_schema(
        {
            "type": "record",
            "name": "Outer",
            "fields": [
                {
                    "name": "inner",
                    "type": {
                        "type": "record",
                        "name": "Inner",
                        "fields": [{"name": "x", "type": ["int", "null"]}],
                    },
                },
                {"name": "tags", "type": {"type": "map", "values": "string"}},
                {"name": "color", "type": {"type": "enum", "name": "Color",
                                            "symbols": ["RED", "GREEN"]}},
                {"name": "digest", "type": {"type": "fixed", "name": "MD5", "size": 16}},
                {"name": "again", "type": "Inner"},
            ],
        }
    )
    fields = {f.name: f for f in st.fields}
    inner = fields["inner"].dataType
    assert isinstance(inner, T.StructType)
    assert inner.fields[0].nullable is True
    assert fields["tags"].dataType == T.MapType(T.StringType(), T.StringType(), False)
    assert fields["color"].dataType == T.StringType()
    assert fields["digest"].dataType == T.BinaryType()
    assert fields["again"].dataType == inner  # named-type reference reuse


def test_union_nullability_both_orders():
    st = parse_avro_schema(
        {
            "type": "record",
            "name": "U",
            "fields": [
                {"name": "a", "type": ["null", "string"]},
                {"name": "b", "type": ["string", "null"]},
                {"name": "c", "type": "string"},
            ],
        }
    )
    assert [f.nullable for f in st.fields] == [True, True, False]


def test_rejects_multi_type_union_and_garbage():
    with pytest.raises(AvroSchemaError):
        parse_avro_schema(
            {"type": "record", "name": "Bad",
             "fields": [{"name": "u", "type": ["int", "string"]}]}
        )
    with pytest.raises(AvroSchemaError):
        parse_avro_schema({"type": "record", "name": "Bad2",
                           "fields": [{"name": "x", "type": "nonexistent"}]})
    with pytest.raises(AvroSchemaError):
        parse_avro_schema('"string"')  # top level must be a record


@pytest.mark.parametrize(
    "field_type", [{"type": {"a": 1}}, {"type": ["int"]}], ids=["object", "array"]
)
def test_rejects_non_string_type_attribute(field_type):
    """A type object whose own ``type`` is an object or an array is not a
    schema (Java's parser wants a name there): the error names the node."""
    with pytest.raises(AvroSchemaError, match="untranslatable Avro type"):
        parse_avro_schema({"type": "record", "name": "Bad3",
                           "fields": [{"name": "x", "type": field_type}]})


def test_declared_schema_read_applies(spark, sf_dir):
    """End-to-end: translated schema drives a real Parquet read."""
    from avro_parquet_spark_example_spark.sources.scans import (
        DOCUMENTS_AVRO_SCHEMA,
    )

    st = parse_avro_schema(DOCUMENTS_AVRO_SCHEMA)
    df = spark.read.schema(st).parquet(f"{sf_dir}/documents.parquet")
    assert df.schema["doc_id"].dataType == T.LongType()
    assert df.count() > 0


def test_struct_to_avro_round_trip_rich():
    """struct → Avro → struct is the identity over the full supported
    surface (nested record, array, map, decimal/date/timestamp logicals,
    nullability at every level)."""
    from avro_parquet_spark_example_spark.sources.avro_schema import (
        struct_to_avro_schema,
    )

    original = T.StructType(
        [
            T.StructField("id", T.LongType(), nullable=False),
            T.StructField("name", T.StringType(), nullable=True),
            T.StructField("price", T.DecimalType(12, 2), nullable=True),
            T.StructField("day", T.DateType(), nullable=False),
            T.StructField("at", T.TimestampType(), nullable=True),
            T.StructField(
                "tags", T.ArrayType(T.StringType(), containsNull=True), nullable=False
            ),
            T.StructField(
                "props",
                T.MapType(T.StringType(), T.DoubleType(), valueContainsNull=False),
                nullable=True,
            ),
            T.StructField(
                "address",
                T.StructType(
                    [
                        T.StructField("city", T.StringType(), nullable=False),
                        T.StructField("zip", T.IntegerType(), nullable=True),
                    ]
                ),
                nullable=True,
            ),
        ]
    )
    assert parse_avro_schema(struct_to_avro_schema(original, "Rich")) == original


def test_struct_to_avro_widens_and_rejects():
    from avro_parquet_spark_example_spark.sources.avro_schema import (
        AvroSchemaError,
        struct_to_avro_schema,
    )

    widened = struct_to_avro_schema(
        T.StructType([T.StructField("b", T.ShortType(), nullable=False)])
    )
    assert widened["fields"][0]["type"] == "int"
    try:
        struct_to_avro_schema(
            T.StructType(
                [
                    T.StructField(
                        "m", T.MapType(T.IntegerType(), T.StringType()), nullable=False
                    )
                ]
            )
        )
        raise AssertionError("int map keys must be rejected")
    except AvroSchemaError:
        pass


def test_namespace_relative_resolution():
    """Two records sharing a simple name in different namespaces stay
    distinct; an unqualified reference resolves against the ENCLOSING
    namespace (Avro spec), not a last-writer-wins bare-name table."""
    import pytest

    from avro_parquet_spark_example_spark.sources.avro_schema import (
        AvroSchemaError,
        parse_avro_schema,
    )

    schema = {
        "type": "record",
        "name": "Top",
        "namespace": "a",
        "fields": [
            {
                "name": "first",
                "type": {
                    "type": "record",
                    "name": "Inner",  # a.Inner
                    "fields": [{"name": "x", "type": "int"}],
                },
            },
            {
                "name": "second",
                "type": {
                    "type": "record",
                    "name": "Inner",  # b.Inner — same simple name, other ns
                    "namespace": "b",
                    "fields": [{"name": "y", "type": "string"}],
                },
            },
            # unqualified ref from namespace 'a' → must be a.Inner (x:int)
            {"name": "ref_unqualified", "type": "Inner"},
            # fullname refs hit either one explicitly
            {"name": "ref_a", "type": "a.Inner"},
            {"name": "ref_b", "type": "b.Inner"},
        ],
    }
    st = parse_avro_schema(schema)
    by_name = {f.name: f.dataType for f in st.fields}
    assert by_name["ref_unqualified"] == by_name["first"]
    assert by_name["ref_a"] == by_name["first"]
    assert by_name["ref_b"] == by_name["second"]
    assert by_name["ref_a"] != by_name["ref_b"]

    # redefining a named type is an error, not a silent overwrite
    dup = {
        "type": "record",
        "name": "Top2",
        "fields": [
            {
                "name": "p",
                "type": {"type": "record", "name": "Same", "fields": []},
            },
            {
                "name": "q",
                "type": {"type": "record", "name": "Same", "fields": []},
            },
        ],
    }
    with pytest.raises(AvroSchemaError):
        parse_avro_schema(dup)


def test_dotted_name_is_fullname():
    """A dotted name attribute IS the fullname; children inherit its
    namespace part (Avro spec: namespace attribute is ignored then)."""
    from avro_parquet_spark_example_spark.sources.avro_schema import (
        parse_avro_schema,
    )

    schema = {
        "type": "record",
        "name": "com.example.Outer",
        "namespace": "ignored.ns",
        "fields": [
            {
                "name": "child",
                "type": {
                    "type": "record",
                    "name": "Child",  # com.example.Child
                    "fields": [{"name": "v", "type": "long"}],
                },
            },
            {"name": "again", "type": "com.example.Child"},
            {"name": "rel", "type": "Child"},
        ],
    }
    st = parse_avro_schema(schema)
    by_name = {f.name: f.dataType for f in st.fields}
    assert by_name["again"] == by_name["child"]
    assert by_name["rel"] == by_name["child"]
