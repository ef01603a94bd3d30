"""Parquet fixture loaders for the driver-provided TPC-H-ish tables, and
the one builder for small driver-side frames (:func:`local_frame`)."""

from __future__ import annotations

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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet → columnar scan with pushdown/pruning.

    ``events.ts`` has shipped as either TIMESTAMP(MICROS) (readable directly)
    or TIMESTAMP(NANOS), which Spark's vectorized parquet reader rejects. For
    the nanos generation we read it as a nanos long (legacy conf) and truncate
    to microseconds — exactly what the DuckDB oracle does when it coerces
    TIMESTAMP_NS → TIMESTAMP(µs) — keeping both engines bit-equal. We sniff
    the resulting Spark type rather than assuming a generation.
    """
    # Every query path funnels through here, so this is the one choke
    # point guaranteeing workers can unpickle our module-level UDFs even
    # when the driver session wasn't built by session.get_spark.
    from .session import ensure_package_shipped

    ensure_package_shipped(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            # integer `div`, not `/`: ns epoch values exceed double's 2^53
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # micros generation arrives as TIMESTAMP_NTZ; session tz is UTC so the
        # cast is value-preserving and keeps every downstream query on the
        # same TimestampType the catalog was built against.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql queries)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


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
