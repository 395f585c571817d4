"""D1: sampled schema inference + identifier sanitation.

Reference contract (agent-schema/app.py:33-44, :181, :186): read only the
first 100 rows of the CSV, take pandas dtypes, and map them onto a 5-type
vocabulary (INT / FLOAT / TIMESTAMP / BOOLEAN / VARCHAR-fallback).

Spark-first shape: read the file *head* as text (the limit is pushed into
the scan, so only the first split of a 100 GB file is touched), run Spark's
CSV inference on that sample as a JVM ``Dataset[String]`` (no Python worker,
no pickling), then coerce the inferred types down to the 5-type
vocabulary. Integers widen to LongType — taxi-style surrogate IDs overflow
32-bit at 100 TB (SURVEY §1.2).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql import types as T

#: The reference's complete type vocabulary (agent-schema/app.py:33-44),
#: keyed by the Spark type we land on.
FIVE_TYPE_VOCABULARY = (
    T.LongType(),
    T.DoubleType(),
    T.TimestampType(),
    T.BooleanType(),
    T.StringType(),
)

_IDENT_BAD = re.compile(r"[^0-9A-Za-z_]")


def sanitize_identifier(name: str) -> str:
    """Hyphens/spaces (any non-word char) -> ``_``; leading digit gets a
    ``_`` prefix. Reference policy line: agent-schema/app.py:110."""
    clean = _IDENT_BAD.sub("_", name.strip())
    if clean and clean[0].isdigit():
        clean = "_" + clean
    return clean or "_"


def to_five_type(dtype: T.DataType) -> T.DataType:
    """Collapse an arbitrary inferred Spark type onto the reference's
    5-type vocabulary (agent-schema/app.py:33-44)."""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return T.LongType()
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return T.DoubleType()
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return T.TimestampType()
    if isinstance(dtype, T.BooleanType):
        return T.BooleanType()
    return T.StringType()


def sanitize_schema(schema: T.StructType) -> T.StructType:
    """Sanitize every field name and collapse types to the vocabulary."""
    return T.StructType(
        [
            T.StructField(sanitize_identifier(f.name), to_five_type(f.dataType), True)
            for f in schema.fields
        ]
    )


def infer_csv_schema(
    spark: SparkSession, path: str, sample_rows: int = 100
) -> T.StructType:
    """Infer a 5-type schema from the first ``sample_rows`` data rows.

    Reference: ``pd.read_csv(file_path, nrows=100)`` + dtype map
    (agent-schema/app.py:181, :186). The text read's ``limit`` is pushed
    to the scan (LocalLimit over the file source), so on a huge file only
    the leading split is read — this stays metadata-cheap at any scale.
    The sample (<=101 short lines) is collected inside the JVM and fed as
    a local ``Dataset[String]`` straight to Spark's own CSV inference — no
    Python worker or pickling, and the inference runs over the local
    rows instead of re-scanning the limited file — then collapses to the
    5-type vocabulary.
    """
    enc = spark._jvm.Encoders.STRING()
    head = getattr(spark.read.text(path).limit(sample_rows + 1)._jdf, "as")(enc)
    lines = spark._jsparkSession.createDataset(head.collectAsList(), enc)
    reader = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    )
    return sanitize_schema(reader._df(reader._jreader.csv(lines)).schema)
