"""Audit-engine queries: config-driven validity + completeness evaluation,
capped violated-PK samples, result→fact explosion.

The Spark side runs the real engine (audit/engine.py: rules-as-data,
single-pass conditional aggregation, distributed PK capping); the DuckDB
oracle recomputes the expected statuses/counts/samples directly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..audit.config import CompletenessRule, ValidityRule
from ..audit.engine import run_completeness_rules, run_validity_rules
from ..audit.facts import CHECKED_SCHEMA, CONFIG_SCHEMA, explode_results_to_fact
from ..io_utils import load
from . import register

# The demo rule corpus (mirrors the reference's validity_config.py:55-331
# shape: predicates SELECT VIOLATIONS).
_VALIDITY_RULES = [
    ValidityRule(1, "lineitem", "l_quantity <= 0", ("l_orderkey", "l_linenumber")),
    ValidityRule(2, "lineitem", "l_discount > 0.05", ("l_orderkey", "l_linenumber")),
    ValidityRule(3, "orders", "o_totalprice <= 0", ("o_orderkey",)),
    ValidityRule(4, "orders", "o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM')", ("o_orderkey",)),
]


def _parse_results(results):
    cfg = F.from_json("ds_configuration", CONFIG_SCHEMA).alias("cfg")
    chk = F.from_json("ds_checked_value", CHECKED_SCHEMA).alias("chk")
    return results.select(cfg, chk, "nr_status").select(
        F.col("cfg.rule_id").alias("rule_id"),
        F.col("cfg.table").alias("table_name"),
        F.col("nr_status").alias("nr_status"),
        F.col("chk.number_of_violated_rows").alias("n_violated"),
        F.size("chk.pk_result").cast("long").alias("n_pk_sample"),
    )


# ---------------------------------------------------------------------------
# Validity rules: single-pass evaluation, reference status encoding
# ---------------------------------------------------------------------------

_VALIDITY_ORACLE = """
WITH r1 AS (SELECT COUNT(*) AS v FROM lineitem WHERE l_quantity <= 0),
r2 AS (SELECT COUNT(*) AS v, least(COUNT(*), 999) AS s FROM lineitem WHERE l_discount > 0.05),
r3 AS (SELECT COUNT(*) AS v FROM orders WHERE o_totalprice <= 0),
r4 AS (SELECT COUNT(*) AS v, least(COUNT(*), 999) AS s FROM orders
       WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM'))
SELECT 1 AS rule_id, 'lineitem' AS table_name,
       CASE WHEN v = 0 THEN 1 ELSE 0 END AS nr_status, v AS n_violated,
       least(v, 999) AS n_pk_sample FROM r1
UNION ALL
SELECT 2, 'lineitem', CASE WHEN v = 0 THEN 1 ELSE 0 END, v, s FROM r2
UNION ALL
SELECT 3, 'orders', CASE WHEN v = 0 THEN 1 ELSE 0 END, v, least(v, 999) FROM r3
UNION ALL
SELECT 4, 'orders', CASE WHEN v = 0 THEN 1 ELSE 0 END, v, s FROM r4
"""


@register("audit_validity_rules", oracle=_VALIDITY_ORACLE)
def audit_validity_rules(spark, sf_dir):
    """Config-driven validity audit (reference: 002...validity.py:115-140,
    rule corpus validity_config.py:55-331): predicate strings interpreted
    at runtime, per-table single-pass conditional aggregation (not the
    reference's one-job-per-rule loop), status 1/0/−1, PK sample ≤999."""
    tables = {
        "lineitem": load(spark, sf_dir, "lineitem"),
        "orders": load(spark, sf_dir, "orders"),
    }
    results = run_validity_rules(spark, tables, _VALIDITY_RULES)
    return _parse_results(results)


# ---------------------------------------------------------------------------
# Completeness rules (null-or-blank over mandatory columns)
# ---------------------------------------------------------------------------

_COMPLETENESS_ORACLE = """
WITH masked AS (
  SELECT event_id,
         CASE WHEN value < 5 THEN NULL ELSE event_type END AS event_type,
         props
  FROM events
),
r10 AS (SELECT COUNT(*) AS v FROM masked
        WHERE event_type IS NULL OR trim(event_type) = ''
           OR props IS NULL OR trim(props) = ''),
r11 AS (SELECT COUNT(*) AS v FROM documents
        WHERE text IS NULL OR trim(text) = '' OR lang IS NULL OR trim(lang) = '')
SELECT 10 AS rule_id, 'events_masked' AS table_name,
       CASE WHEN v = 0 THEN 1 ELSE 0 END AS nr_status,
       v AS n_violated, least(v, 999) AS n_pk_sample FROM r10
UNION ALL
SELECT 11, 'documents', CASE WHEN v = 0 THEN 1 ELSE 0 END, v, least(v, 999) FROM r11
"""


@register("audit_completeness_rules", oracle=_COMPLETENESS_ORACLE)
def audit_completeness_rules(spark, sf_dir):
    """Completeness audit over configured mandatory columns (reference:
    002...completeness_mandatory.py:123-153; ''-after-trim is a
    violation). One rule runs against a masked view so FAIL paths are
    exercised on the fully-populated fixtures."""
    e = load(spark, sf_dir, "events")
    masked = e.select(
        "event_id",
        F.when(F.col("value") < 5, None).otherwise(F.col("event_type")).alias("event_type"),
        "props",
    )
    tables = {
        "events_masked": masked,
        "documents": load(spark, sf_dir, "documents"),
    }
    rules = [
        CompletenessRule(10, "events_masked", ("event_type", "props"), ("event_id",)),
        CompletenessRule(11, "documents", ("text", "lang"), ("doc_id",)),
    ]
    results = run_completeness_rules(spark, tables, rules)
    return _parse_results(results)


# ---------------------------------------------------------------------------
# A12/O5: capped + sorted violated-PK sample as a value
# ---------------------------------------------------------------------------

_PK_SAMPLE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_violated,
       (list_sort(list(CAST(o_orderkey AS VARCHAR))))[1:999] AS pk_sample
FROM orders
WHERE o_orderpriority = '5-LOW'
"""


@register("audit_pk_sample_capped", oracle=_PK_SAMPLE_ORACLE)
def audit_pk_sample_capped(spark, sf_dir):
    """Distributed violated-PK sampling: slice(sort_array(collect_list))
    caps at 999 inside the aggregation (the reference collected ALL
    violations to the driver then truncated — 002...:160-165; SURVEY.md
    §4 item 3 fix)."""
    o = load(spark, sf_dir, "orders")
    viol = o.filter(F.col("o_orderpriority") == "5-LOW")
    return viol.agg(
        F.count(F.lit(1)).alias("n_violated"),
        F.slice(F.sort_array(F.collect_list(F.col("o_orderkey").cast("string"))), 1, 999).alias("pk_sample"),
    )


# ---------------------------------------------------------------------------
# Result-log → fact explosion (from_json + explode_outer)
# ---------------------------------------------------------------------------

_FACT_ORACLE = """
WITH viol AS (
  SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) AS pk
  FROM lineitem WHERE l_discount > 0.05
),
capped AS (
  SELECT unnest((list_sort(list(pk)))[1:999]) AS violated_pk, COUNT(*) AS n_violated
  FROM viol
)
SELECT 2 AS rule_id, 'lineitem' AS table_name, 'validity' AS audit_kind,
       'FAIL' AS ds_audit_result, violated_pk, n_violated
FROM capped
UNION ALL
SELECT 1, 'lineitem', 'validity', 'PASS', NULL,
       (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
"""


@register("audit_fact_explode", oracle=_FACT_ORACLE)
def audit_fact_explode(spark, sf_dir):
    """End-to-end result→fact path: run 2 rules → JSON result log →
    from_json + explode_outer into one row per violated PK (PASS rules
    keep a NULL-pk row) — reference 004_fact...validity.py:56-155
    semantics with the engine's JSON payloads as the interchange."""
    tables = {"lineitem": load(spark, sf_dir, "lineitem")}
    rules = [
        ValidityRule(1, "lineitem", "l_quantity <= 0", ("l_orderkey", "l_linenumber")),
        ValidityRule(2, "lineitem", "l_discount > 0.05", ("l_orderkey", "l_linenumber")),
    ]
    results = run_validity_rules(spark, tables, rules)
    # assign_ids=False: this query's output drops cd_fact_id, so the
    # eager dense-id pass (range partition + counts job + checkpoint)
    # would be computed and thrown away (guide §1.2)
    fact = explode_results_to_fact(results, assign_ids=False)
    return fact.select(
        "rule_id", "table_name", "audit_kind", "ds_audit_result", "violated_pk", "n_violated"
    )
