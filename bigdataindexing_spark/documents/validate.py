"""Write-time schema validation with quarantine routing.

Spark-native equivalent of the reference's everit JSON-Schema check on
every POST/PUT/PATCH (PlanController.java:88–95, 170–176, 232–238): shape
and types come from ``from_json`` against the declared StructType; draft-07
``required`` sets become null-check predicates. Invalid rows are not
dropped (the reference throws HTTP 400) — they are routed to a quarantine
DataFrame with a reason column, which is the batch/stream analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.schema import (
    PLAN_SCHEMA,
    REQUIRED_ELEMENT_PATHS,
    REQUIRED_PATHS,
)


def _missing_required(doc: F.Column) -> F.Column:
    """Array of violated required-field paths for a parsed doc."""
    # for each required path, emit the path string when the leaf is null
    parts = []
    for p in REQUIRED_PATHS:
        c = doc
        for seg in p.split("."):
            c = c.getField(seg)
        parts.append(F.when(c.isNull(), F.lit(p)))
    # per-element requireds inside linkedPlanServices
    arr = doc.getField("linkedPlanServices")

    def _elem_null(path: str):
        def f(x):
            c = x
            for seg in path.split("."):
                c = c.getField(seg)
            return c.isNull()

        return f

    for p in REQUIRED_ELEMENT_PATHS:
        any_bad = F.exists(F.coalesce(arr, F.array()), _elem_null(p))
        parts.append(F.when(any_bad, F.lit(f"linkedPlanServices[].{p}")))
    return F.array_compact(F.array(*parts))


def _nested(doc: F.Column, path: str) -> F.Column:
    c = doc
    for seg in path.split("."):
        c = c.getField(seg)
    return c


def annotate(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse each body into a typed ``doc`` struct and attach its
    ``reason`` array (empty when the document is valid).

    This is the expensive half of validation (``from_json`` plus the
    interpreted ``F.exists`` checks); a caller that writes both halves of
    :func:`split` persists this relation so the parse runs once.
    Type violations (e.g. ``copay: "x"``) surface as a null parsed struct
    (PERMISSIVE corrupt-record semantics) or a null required leaf."""
    parsed = raw.withColumn("doc", F.from_json(F.col(value_col), PLAN_SCHEMA))
    missing = _missing_required(F.col("doc"))
    return parsed.withColumn(
        "reason",
        F.when(F.col("doc").isNull(), F.array(F.lit("malformed_json"))).otherwise(
            missing
        ),
    )


def split(annotated: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine) of an :func:`annotate` result."""
    valid = annotated.filter(F.size("reason") == 0).select(value_col, "doc")
    quarantine = annotated.filter(F.size("reason") > 0).select(value_col, "reason")
    return valid, quarantine


def validate(raw: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): valid has a typed ``doc`` struct column;
    quarantine keeps the raw body plus a ``reason`` array column.

    Both malformed bodies and missing required fields land in quarantine,
    mirroring BadRequestException at PlanController.java:94.
    """
    return split(annotate(raw, value_col), value_col)
