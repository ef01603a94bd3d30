"""Audit executors: evaluate completeness/validity rules and produce
result rows with the reference's exact status encoding and payload
shape.

Status codes (reference: 002...validity.py:138-140, SURVEY.md §7.4):
  1 = PASS (0 violations), 0 = FAIL (>0), −1 = ERROR (rule unevaluable).

Result rows (reference: 002...completeness_mandatory.py:35-57):
  cd_dataaudit_result  uuid string
  ds_configuration     JSON of the rule config
  ds_checked_value     JSON {number_of_violated_rows, pk_result, note}
  nr_status            int
  dt_checked_at        timestamp

Scale design: the reference loops one spark.sql job per rule
(002...validity.py:115-129). Here every rule for the same table is
evaluated in ONE scan via conditional aggregation, and the violated-PK
sample is capped (999) distributed with slice(sort_array(collect_list))
— never a full driver-side collect (SURVEY.md §4 items 3-4).
"""

from __future__ import annotations

import datetime
import json
from functools import reduce

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io_utils import local_frame
from .config import CompletenessRule, ValidityRule

AUDIT_PASS = 1
AUDIT_FAIL = 0
AUDIT_ERROR = -1

PK_SAMPLE_CAP = 999  # reference LIMIT_VAL (002...completeness_mandatory.py:24)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("cd_dataaudit_result", T.StringType(), False),
        T.StructField("ds_configuration", T.StringType(), False),
        T.StructField("ds_checked_value", T.StringType(), False),
        T.StructField("nr_status", T.IntegerType(), False),
        T.StructField("dt_checked_at", T.TimestampType(), False),
    ]
)


def completeness_violation_predicate(columns: tuple[str, ...]):
    """NULL or blank-after-trim on any mandatory column (reference:
    002...completeness_mandatory.py:140-144 — '' counts as violation)."""
    return reduce(
        lambda a, b: a | b,
        [F.col(c).isNull() | (F.trim(F.col(c).cast("string")) == "") for c in columns],
    )


def _pk_expr(pk_columns: tuple[str, ...]):
    if len(pk_columns) == 1:
        return F.col(pk_columns[0]).cast("string")
    return F.concat_ws("|", *[F.col(c).cast("string") for c in pk_columns])


def _evaluate_single_pass(df: DataFrame, preds: dict[int, object], pk_cols: dict[int, tuple[str, ...]]):
    """One scan, all rules: Σ conditional counts + capped PK samples.

    The PK sample (the PK_SAMPLE_CAP lexicographically-smallest violated
    pks, reference LIMIT_VAL=999 semantics) runs as a TWO-level
    aggregation: per input partition first — each collect_list sees only
    that partition's violations and is immediately sorted+capped — then a
    merge of ≤ cap×P candidates. Correct because the global smallest K
    are contained in the union of per-partition smallest K; scalable
    because no single reducer ever materializes every violated pk (a
    100 TB table with a 40%-violating rule would otherwise ship the full
    pk set to one task)."""
    # merge-level sums are coalesced to 0: on an EMPTY audited table the
    # per-partition groupBy yields zero rows, SUM returns NULL, and the
    # downstream int(n_viol) would crash the whole audit run instead of
    # emitting PASS rows
    part_aggs = [F.count(F.lit(1)).cast("long").alias("_n_rows")]
    merge_aggs = [F.coalesce(F.sum("_n_rows"), F.lit(0)).cast("long").alias("_n_rows")]
    for rid, pred in preds.items():
        pk = _pk_expr(pk_cols[rid])
        part_aggs.append(
            F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(f"_viol_{rid}")
        )
        part_aggs.append(
            F.slice(
                F.sort_array(F.collect_list(F.when(pred, pk))), 1, PK_SAMPLE_CAP
            ).alias(f"_pks_{rid}")
        )
        merge_aggs.append(
            F.coalesce(F.sum(f"_viol_{rid}"), F.lit(0))
            .cast("long")
            .alias(f"_viol_{rid}")
        )
        merge_aggs.append(
            F.coalesce(
                F.slice(
                    F.sort_array(F.flatten(F.collect_list(f"_pks_{rid}"))),
                    1,
                    PK_SAMPLE_CAP,
                ),
                F.array().cast("array<string>"),
            ).alias(f"_pks_{rid}")
        )
    # guarded fan-out (r13, guide §2): the whole rule evaluation — N
    # predicates + N sorted capped pk collect_lists — is fused into the
    # scan stage, so a one-split file layout runs it on ONE core. Hash
    # on the first rule's pk (high-cardinality); the two-level top-K
    # proof above already holds for ANY partitioning, so values are
    # unchanged. A production layout (≥ parallelism input files) skips
    # the exchange entirely.
    from ..partitioning import fan_out_scan

    first_pk = next(iter(pk_cols.values()))
    df = fan_out_scan(df, *first_pk)
    per_part = df.groupBy(F.spark_partition_id().alias("_pid")).agg(*part_aggs)
    return per_part.agg(*merge_aggs).collect()[0]


def run_completeness_rules(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    rules: list[CompletenessRule],
) -> DataFrame:
    """Evaluate completeness rules grouped per table (one scan each);
    return reference-shaped result rows."""
    return _run(spark, tables, rules, kind="completeness")


def run_validity_rules(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    rules: list[ValidityRule],
) -> DataFrame:
    """Evaluate validity rules (SQL predicate strings selecting
    violations, reference: validity_config.py:55-331 rule corpus)
    grouped per table — F.expr keeps the reference's dynamic-predicate
    design without per-rule spark.sql round-trips."""
    return _run(spark, tables, rules, kind="validity")


def _run(spark, tables, rules, kind: str) -> DataFrame:
    by_table: dict[str, list] = {}
    for r in rules:
        if r.is_active:
            by_table.setdefault(r.table, []).append(r)

    out_rows: list[Row] = []
    # stamped once per run; aware, because Spark reads a naive datetime
    # as host-local time
    now = datetime.datetime.now(datetime.timezone.utc)

    for table, table_rules in by_table.items():
        df = tables.get(table)
        preds, pks, errors = {}, {}, {}
        for r in table_rules:
            if df is None:
                errors[r.rule_id] = f"table not found: {table}"
                continue
            try:
                pred = (
                    completeness_violation_predicate(r.mandatory_columns)
                    if kind == "completeness"
                    else F.expr(r.validation_rule)
                )
                # force analysis now so a bad rule -> ERROR, not job abort
                df.select(F.when(pred, 1)).schema
                preds[r.rule_id] = pred
                pks[r.rule_id] = r.pk_columns
            except Exception as exc:  # noqa: BLE001 - rule text is user data
                errors[r.rule_id] = str(exc)[:500]

        agg_row = _evaluate_single_pass(df, preds, pks) if preds else None

        for r in table_rules:
            config_json = json.dumps(
                {
                    "rule_id": r.rule_id,
                    "table": r.table,
                    "kind": kind,
                    "pk_columns": list(r.pk_columns),
                    "rule": (
                        ",".join(r.mandatory_columns)
                        if kind == "completeness"
                        else r.validation_rule
                    ),
                },
                sort_keys=True,
            )
            if r.rule_id in errors:
                status, checked = AUDIT_ERROR, {"number_of_violated_rows": -1,
                                                "pk_result": [],
                                                "note": errors[r.rule_id]}
            else:
                n_viol = agg_row[f"_viol_{r.rule_id}"]
                pks_sample = agg_row[f"_pks_{r.rule_id}"]
                status = AUDIT_PASS if n_viol == 0 else AUDIT_FAIL
                checked = {
                    "number_of_violated_rows": int(n_viol),
                    "pk_result": list(pks_sample),
                    "note": "",
                }
            out_rows.append(
                Row(
                    cd_dataaudit_result=f"{kind}-{r.rule_id}-{now.isoformat()}",
                    ds_configuration=config_json,
                    ds_checked_value=json.dumps(checked, sort_keys=True),
                    nr_status=status,
                    dt_checked_at=now,
                )
            )
    return local_frame(spark, out_rows, RESULT_SCHEMA)
