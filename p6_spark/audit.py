"""The error-channel-as-data pattern (SURVEY §2.9) — the reference's most
distinctive semantic: a stairval Notepad collects errors/warnings, errors
drop the offending ROW (or table), never the RUN; the CLI exits 0 and
prints the issue report (src/P6/__main__.py:258-268).

Spark mapping: every pipeline stage returns (valid_df, audit_df) where
audit_df is a DataFrame of (step, sheet, level, message) rows — the
dead-letter pattern. Audit rows are produced with column expressions
(row-correlated, exactly-once) — never with side-effecting accumulators,
which Spark does not replay exactly-once on task retry.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("step", T.StringType(), False),
        T.StructField("sheet", T.StringType(), False),
        T.StructField("level", T.StringType(), False),  # 'error' | 'warning'
        T.StructField("message", T.StringType(), False),
    ]
)


def empty_audit(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], AUDIT_SCHEMA)


def audit_entries(spark: SparkSession, entries: list[tuple[str, str, str, str]]) -> DataFrame:
    """Driver-side (plan-time) audit rows, e.g. missing-column table
    rejections — these are metadata checks, not data scans."""
    return spark.createDataFrame(entries, AUDIT_SCHEMA)


def audit_from_rows(
    df: DataFrame, condition: Column, step: str, sheet: str, level: str, message: Column
) -> DataFrame:
    """Data-derived audit rows: one per row matching `condition`, with a
    row-correlated message column."""
    return df.filter(condition).select(
        F.lit(step).alias("step"),
        F.lit(sheet).alias("sheet"),
        F.lit(level).alias("level"),
        message.cast("string").alias("message"),
    )


def union_audits(*audits: DataFrame) -> DataFrame:
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out


@dataclass
class StageResult:
    """A pipeline stage's two outputs: surviving rows + audit rows."""

    valid: DataFrame
    audit: DataFrame


def dead_letter_rows(df: DataFrame, predicate: Column) -> tuple[DataFrame, DataFrame]:
    """Schema-preserving dead-letter split: (valid, dead), both with the
    ORIGINAL columns — for callers that aggregate the dead side (per-key
    rejection counts in a curation manifest) instead of, or before,
    rendering it into AUDIT_SCHEMA text rows via ``audit_from_rows``.

    NULL-safe (round-11 ADVICE): a NULL predicate routes the row to the
    DEAD side — a naive ``filter(pred)/filter(~pred)`` pair drops
    NULL-predicate rows from BOTH sides under ANSI three-valued logic,
    silently losing rows despite the rows-routed-never-lost contract
    (e.g. ``size(tokens) >= 1`` is NULL for NULL text). DuckDB twins of
    callers must mirror with ``NOT coalesce(pred, false)`` on the dead
    side."""
    return df.filter(predicate), df.filter(~F.coalesce(predicate, F.lit(False)))
