"""avro_parquet_spark_example_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``AndreSchumacher/avro-parquet-spark-example`` (Avro-schema'd
records stored as Parquet, queried through Spark SQL; see SURVEY.md §0 — the
reference demonstrates scan / projection-pushdown / filter / aggregation over
Avro/Parquet data), extended with the LLM-data-pipeline operator surface
mandated by BASELINE.json (dedup, similarity search, multimodal columns,
text analysis) and designed for 100 TB scale.

Design rules (engine-wide):
  * DataFrame / SQL only — no RDDs; Catalyst + Tungsten pick physical plans.
  * No ``collect()`` inside operators — only callers materialize.
  * No row-at-a-time Python UDFs on hot paths — SQL higher-order functions
    or Arrow-batched pandas UDFs where Python is unavoidable.
  * Pairwise computations are bucketed (LSH banding), never cartesian.
  * Broadcast only bounded dims; AQE handles skew; partition-prune by date.

Importing the package first patches ``zipimport`` (``_zipimport``): every
PySpark worker task starts with ``importlib.invalidate_caches()``, which on
CPython 3.11 re-parses the whole directory of ``pyspark.zip`` once per zip
importer; the patch re-reads an archive only when its ``stat`` (mtime, size,
inode) changed, so a rewritten or deleted archive is still seen.
"""

from avro_parquet_spark_example_spark import _zipimport  # noqa: F401 - stays first
from avro_parquet_spark_example_spark.registry import (  # noqa: F401
    all_queries,
    all_oracle_sql,
    get_query,
)
from avro_parquet_spark_example_spark.session import configure, get_session  # noqa: F401

__version__ = "0.1.0"
