"""lakehouse_v3_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first implementation of the query and data-processing
capabilities of the reference lakehouse (nganlam-vn/lakehouse_v3): medallion
ETL operators, incremental ingest, config-driven data audits, plus
LLM-data-pipeline extensions (dedup, similarity search, text analysis,
multimodal plumbing) designed for 100 TB scale.

Layout:
    session.py      SparkSession factory (AQE, UTC, Arrow)
    tables.py       table manager (read/write/append/overwrite/merge/compact)
    incremental.py  checkpoint patterns (last-key, file-log, max-id, max-ts)
    ids.py          scalable dense surrogate ids (no single-partition window)
    operators/      composable DataFrame operator library
    functions/      scalar/text helper expressions
    plans/          declared query catalog (queries() + DuckDB oracle SQL)
    streaming/      structured-streaming ingest patterns
    audit/          config-driven data-quality engine
    pipelines/      medallion pipeline compositions (uber/coin/stocks/news)
    worker_imports.py  workers skip re-reading unchanged zips per task
"""

from .worker_imports import install as _install_zip_guard

__version__ = "0.1.0"

_install_zip_guard()
