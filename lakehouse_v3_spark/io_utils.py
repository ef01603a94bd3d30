"""Parquet fixture loaders for the driver-provided TPC-H-ish tables, and
the one builder for small driver-side frames (:func:`local_frame`).

Every fixture read goes through :func:`load`. A plain
``spark.read.parquet(path)`` starts a one-task schema-inference job
(``mergeSchemasInParallel``) just to read the file's footer, ~0.1 s on a
warm local session. For a single local file whose types map exactly,
:func:`footer_schema` reads that footer on the driver with pyarrow
(~0.5 ms) and ``load`` plans ``spark.read.schema(s).parquet(path)``,
which starts no job. Anything it is not certain of (a path with a
scheme, a directory, a type outside its allow-list such as
``timestamp[ns]``, a Spark-written footer) gives ``None``, and ``load``
falls back to Spark's own inference.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# a URI scheme (``s3a://``, ``file:``) or a Hadoop glob character: the
# path is not one local file name, so Spark's listing decides
_NOT_A_LOCAL_FILE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:|[*?\[\]{}]")
# Spark's footer converter stores its own schema in files it writes
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def as_nullable(node):
    """A schema's JSON (``StructType.jsonValue()``) with every field,
    element and value nullable: what Spark's file scans return
    (``asNullable``) whatever the file says."""
    if isinstance(node, dict):
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else as_nullable(v)
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [as_nullable(v) for v in node]
    return node


def _leaves(t, out: list) -> bool:
    """Append the leaf types of arrow type ``t`` to ``out`` in column
    order; False when ``t`` holds a type whose Spark mapping is not
    certain (unsigned ints, non-micros timestamps, maps, large or
    dictionary types, ...)."""
    import pyarrow.types as pt

    if pt.is_struct(t):
        return all(_leaves(t.field(i).type, out) for i in range(t.num_fields))
    if pt.is_list(t):
        return _leaves(t.value_type, out)
    if (pt.is_timestamp(t) and t.unit == "us") or any(
        is_(t) for is_ in (
            pt.is_boolean, pt.is_int8, pt.is_int16, pt.is_int32, pt.is_int64,
            pt.is_float32, pt.is_float64, pt.is_string, pt.is_binary,
            pt.is_date32, pt.is_decimal128,
        )
    ):
        out.append(t)
        return True
    return False


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer, read from the
    footer on the driver, or ``None`` when the mapping is not certain.

    Only a single local file qualifies, whose columns are booleans,
    signed ints, float32/64, strings, binaries, dates, decimals and
    ``timestamp[us]`` (with or without a tz), or lists and structs of
    these. A timestamp must be one the parquet footer itself marks as
    UTC-adjusted exactly when arrow gives it a tz (legacy converted-type
    stamps are not); unadjusted ones become ``timestamp_ntz`` exactly
    when ``spark.sql.parquet.inferTimestampNTZ.enabled`` is true.
    Binaries fall back under ``spark.sql.parquet.binaryAsString``. Every
    field is nullable, as in any Spark file scan.
    """
    import json

    import pyarrow.parquet as pq
    import pyarrow.types as pt
    from pyspark.sql.pandas.types import from_arrow_schema

    if _NOT_A_LOCAL_FILE.search(path) or not os.path.isfile(path):
        return None
    if os.path.basename(path).startswith(("_", ".")):
        return None  # a name Spark's listing hides
    md = pq.read_metadata(path)
    if _SPARK_SCHEMA_KEY in (md.metadata or {}):
        return None
    arrow = md.schema.to_arrow_schema()
    leaves: list = []
    if not all(_leaves(f.type, leaves) for f in arrow):
        return None
    if len(leaves) != md.num_columns:
        return None
    conf = spark.conf
    for i, t in enumerate(leaves):
        if pt.is_binary(t) and conf.get(
            "spark.sql.parquet.binaryAsString", "false"
        ).lower() == "true":
            return None
        if pt.is_timestamp(t):
            lt = json.loads(md.schema.column(i).logical_type.to_json())
            if (
                lt.get("Type") != "Timestamp"
                or lt.get("is_from_converted_type")
                or lt.get("isAdjustedToUTC") != (t.tz is not None)
            ):
                return None
    ntz = conf.get(
        "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
    ).lower() == "true"
    schema = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
    return StructType.fromJson(as_nullable(schema.jsonValue()))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet → columnar scan with pushdown/pruning.

    The schema comes from :func:`footer_schema` when it is certain, so
    building the frame starts no Spark job; otherwise Spark infers it.

    ``events.ts`` has shipped as either TIMESTAMP(MICROS) (readable directly)
    or TIMESTAMP(NANOS), which Spark's vectorized parquet reader rejects. For
    the nanos generation (never footer-typed) we read it as a nanos long
    (legacy conf) and truncate to microseconds — exactly what the DuckDB
    oracle does when it coerces TIMESTAMP_NS → TIMESTAMP(µs) — keeping both
    engines bit-equal. We sniff the resulting Spark type rather than
    assuming a generation.
    """
    # Every query path funnels through here, so this is the one choke
    # point guaranteeing workers can unpickle our module-level UDFs even
    # when the driver session wasn't built by session.get_spark.
    from .session import ensure_package_shipped

    ensure_package_shipped(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = footer_schema(spark, path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        if name == "events":
            # permanent, not a conf_window: the scan reads it when it runs
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer `div`, not `/`: ns epoch values exceed double's 2^53
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # micros generation arrives as TIMESTAMP_NTZ; session tz is UTC so the
        # cast is value-preserving and keeps every downstream query on the
        # same TimestampType the catalog was built against.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples, lists, dicts or
    Rows), planned as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` pickles the rows into
    ``sc.parallelize``, so even a 2-row config table runs a Python-worker
    job (~0.3 s warm, seconds when the worker daemon starts cold). Here
    the rows are checked and converted exactly as that path does them
    (type verifier, converter, ``schema.toInternal`` -- naive datetimes
    read as host-local, aware ones by their offset), then handed over as
    one Arrow table typed by ``to_arrow_schema``; ``createDataFrame`` of
    a ``pyarrow.Table`` becomes a ``LocalRelation`` with no Python job,
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _make_type_verifier

    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    verify = _make_type_verifier(schema)
    convert = _create_converter(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(schema.toInternal(convert(r)))
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in internal], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
