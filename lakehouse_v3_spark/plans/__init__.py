"""Declared query catalog.

Every operator the engine claims (SURVEY.md §2 + the LLM-data-pipeline
extensions) is registered here as a named query: a Spark callable
``(spark, sf_dir) -> DataFrame`` plus (where ANSI-expressible) an
equivalent DuckDB oracle SQL string over the same parquet fixtures.

The driver runs both sides at sf=0.01 and compares row-count + schema +
order-insensitive value-hash, so:
  - every computed column is aliased identically on both sides;
  - every floating-point output is explicitly ``round()``-ed on both
    sides so independent summation orders can't flip the hash.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


def dsum(col, alias: str):
    """Order-independent double sum: accumulate as DECIMAL(30,6), cast back.

    A plain SUM(double) depends on partition/accumulation order, so Spark
    and the DuckDB oracle can disagree at 1 ulp — which flips ROUND at
    .xx5 boundaries. Summing decimals is exact and associative; the final
    cast yields bit-identical doubles on both engines. Oracle-side
    equivalent: CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE).
    """
    from pyspark.sql import functions as F

    return F.sum(col.cast("decimal(30,6)")).cast("double").alias(alias)


def davg(col, alias: str):
    """Order-independent double mean: decimal sum ÷ non-null count.

    Oracle-side: CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(x).
    """
    from pyspark.sql import functions as F

    return (F.sum(col.cast("decimal(30,6)")).cast("double") / F.count(col)).alias(alias)


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does a rows-only check
    doc: str = ""
    # Per-query relative tolerance for the REPO-SIDE oracle compare.
    # Used only for queries whose output is a principled approximation
    # (e.g. an HLL estimate vs the exact count): the repo gate checks
    # |spark - oracle| / oracle <= rtol instead of bit equality.
    #
    # REQUIREMENT for rtol queries: the NON-float output columns must
    # form a unique key per row. Tolerant compares exclude float columns
    # from the canonical sort key (approximate values differ per engine
    # and would misalign rows), so two rows tying on every non-float
    # column would be aligned arbitrarily and their float values
    # compared crosswise — a false mismatch or false pass. The current
    # rtol query keys on o_orderpriority (unique); keep any future one
    # keyed the same way.
    #
    # An rtol oracle stays OUT of __spark_entry__.oracle_sql(): the
    # driver's compare is a strict value-hash that cannot express a
    # tolerance, so it would mis-report there. The driver then records
    # a rows-only check; the repo gate (tests/test_oracle_parity.py,
    # tools/sf_gate.py) still value-checks within rtol.
    rtol: float | None = None
    # Optional FASTER oracle formulation for the big-SF repo gates
    # (tools/sf_gate.py) only. A handful of deliberately-naive primary
    # oracles (recursive-CTE transitive closure, all-shingle Σ df²
    # joins, all-pairs list_reduce cosine) are the most independent
    # formulation but superlinear in DuckDB — at sf1+ they time out.
    # sf_oracle carries a tractable re-formulation of the SAME
    # semantics (prefix filter, native-array prefilter + exact rescore,
    # looped label propagation); equivalence against the primary oracle
    # is pinned where both are tractable by
    # tests/test_oracle_parity.py::test_sf_oracle_equivalent_to_primary.
    # Either a DuckDB SQL string, or a callable (con, sf_dir) ->
    # pandas.DataFrame running multi-statement/iterative DuckDB on a
    # connection the gate's timeout watchdog can interrupt. The driver
    # and the pytest sf0.001 parity gate always use the primary oracle.
    sf_oracle: "str | Callable | None" = None


REGISTRY: dict[str, QueryDef] = {}

_MODULES = [
    "relational",
    "analytics_extra",
    "tpch_shapes",
    "tpch_shapes2",
    "scale_extras",
    "modern_extras",
    "relevance_queries",
    "cleaning",
    "window_queries",
    "joins_merge",
    "text_queries",
    "dedup_queries",
    "similarity_queries",
    "ivf_queries",
    "pq_trained_queries",
    "audit_queries",
    "streaming_queries",
    "multimodal_queries",
    "llm_pipeline_extras",
    "curation_extras",
    "ml_extras",
    "stats_extras",
    "source_queries",
    "linededup_queries",
    "curation_pipeline",
]


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    rtol: float | None = None,
    sf_oracle=None,
):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the catalog.

    Every registered fn is wrapped to ship the package to workers
    first (``session.ensure_package_shipped``, a no-op after the first
    call per context). Most queries reach it through ``io_utils.load``
    anyway, but the streaming queries build ``readStream`` sources
    directly — from a driver whose cwd isn't the repo root, their
    package-pickled UDFs (and Spark 4.1's driver-side
    transformWithState schema worker) died with ModuleNotFoundError
    before the r12 fix. The registry is the driver contract's single
    choke point, so the guarantee lives here."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def shipped(spark, sf_dir):
            from ..session import ensure_package_shipped

            ensure_package_shipped(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QueryDef(
            name=name,
            fn=shipped,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            rtol=rtol,
            sf_oracle=sf_oracle,
        )
        return fn

    return deco


def load_all() -> dict[str, QueryDef]:
    """Import every query module (idempotent) and return the registry."""
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")
    return REGISTRY
