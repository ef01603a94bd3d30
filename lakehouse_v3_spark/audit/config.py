"""Audit rule configuration: rules are DATA (table rows), not code.

Mirrors the reference's config tables
(data_audit/configuration/validity_config.py:17-33 and
create_tbl_completeness_mandatory_config.py:10-27): each rule row names
a target table, a PK column list, a timestamp column, and either a
mandatory-column list (completeness) or a SQL predicate string that
SELECTS VIOLATIONS (validity).

Trust boundary (SURVEY.md §4 anti-pattern 5): validation_rule strings
are spliced into expressions by design — they must come from the
trusted config table only. Identifiers are backtick-quoted where
interpolated.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..io_utils import local_frame


@dataclass(frozen=True)
class CompletenessRule:
    rule_id: int
    table: str
    mandatory_columns: tuple[str, ...]
    pk_columns: tuple[str, ...]
    description: str = ""
    is_active: bool = True


@dataclass(frozen=True)
class ValidityRule:
    rule_id: int
    table: str
    validation_rule: str  # SQL predicate selecting VIOLATING rows
    pk_columns: tuple[str, ...]
    description: str = ""
    is_active: bool = True


COMPLETENESS_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("cd_id_configuration", T.LongType(), False),
        T.StructField("ds_table_name", T.StringType(), False),
        T.StructField("ds_mandatory_column_array", T.StringType(), False),  # CSV list
        T.StructField("ds_pk_column_array", T.StringType(), False),
        T.StructField("ds_rule_description", T.StringType(), True),
        T.StructField("fl_is_active", T.BooleanType(), False),
    ]
)

VALIDITY_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("cd_id_configuration", T.LongType(), False),
        T.StructField("ds_table_name", T.StringType(), False),
        T.StructField("ds_validation_rule", T.StringType(), False),
        T.StructField("ds_pk_column_array", T.StringType(), False),
        T.StructField("ds_rule_description", T.StringType(), True),
        T.StructField("fl_is_active", T.BooleanType(), False),
    ]
)


def completeness_rules_to_df(spark: SparkSession, rules: list[CompletenessRule]):
    """Persistable config rows (reference S16 createDataFrame source)."""
    rows = [
        (r.rule_id, r.table, ",".join(r.mandatory_columns), ",".join(r.pk_columns),
         r.description, r.is_active)
        for r in rules
    ]
    return local_frame(spark, rows, COMPLETENESS_CONFIG_SCHEMA)


def validity_rules_to_df(spark: SparkSession, rules: list[ValidityRule]):
    rows = [
        (r.rule_id, r.table, r.validation_rule, ",".join(r.pk_columns),
         r.description, r.is_active)
        for r in rules
    ]
    return local_frame(spark, rows, VALIDITY_CONFIG_SCHEMA)


def completeness_rules_from_df(df) -> list[CompletenessRule]:
    """Load active rules from a config table (runtime rule-engine read,
    reference: 002...validity.py:71-73 collect of active configs)."""
    return [
        CompletenessRule(
            rule_id=r.cd_id_configuration,
            table=r.ds_table_name,
            mandatory_columns=tuple(c for c in r.ds_mandatory_column_array.split(",") if c),
            pk_columns=tuple(c for c in r.ds_pk_column_array.split(",") if c),
            description=r.ds_rule_description or "",
            is_active=r.fl_is_active,
        )
        for r in df.collect()
        if r.fl_is_active
    ]


def validity_rules_from_df(df) -> list[ValidityRule]:
    return [
        ValidityRule(
            rule_id=r.cd_id_configuration,
            table=r.ds_table_name,
            validation_rule=r.ds_validation_rule,
            pk_columns=tuple(c for c in r.ds_pk_column_array.split(",") if c),
            description=r.ds_rule_description or "",
            is_active=r.fl_is_active,
        )
        for r in df.collect()
        if r.fl_is_active
    ]
