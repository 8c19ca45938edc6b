"""Driver-local rows → a JVM-backed DataFrame (``LocalTableScan``).

Round-17 optimization-round measurement (guide §4 — the Python boundary):
``spark.createDataFrame(list_of_rows)`` builds a *pickled Python RDD*
sliced into ``defaultParallelism`` partitions, and **every evaluation** of
the resulting frame launches one Python worker per slice just to unpickle
a handful of driver-side rows. On ``local[32]`` that is 32 zero-input
tasks at ~0.2 s each, multiplied by every re-evaluation of the plan —
profiled at 28 task-seconds (4 × 32 tasks) in ``exact_quantile_panel``
alone, 15 task-seconds in ``daily_metrics_panel``, 8.5 in
``semantic_dedup``'s star list (``bench.py``'s profile pass,
OPTIMIZATION_r17.md).

Routing the same rows through Arrow (``createDataFrame(pandas_df,
schema)`` with ``spark.sql.execution.arrow.pyspark.enabled=true`` — set by
session.py) yields a ``LocalTableScan``: a true JVM LocalRelation with no
Python at evaluation time, no scheduled tasks for the scan itself, and a
plan the optimizer can fold into broadcasts. Values are bit-identical:
ints/strings/dates map 1:1 and doubles round-trip exactly through Arrow's
float64 (verified in tests/test_localframe.py; the catalog's oracle suite
pins the consumers bitwise).

At cluster scale the conclusion is the same: these frames are *driver
state* (centroid tables, quantile rows, star lists bounded by the
small-graph gate) — shipping them as a LocalRelation instead of a pickled
RDD removes a Python-worker round per executor-slot per evaluation.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession,
    rows: Iterable,
    schema: StructType | str,
) -> DataFrame:
    """Build a DataFrame from driver-local ``rows`` that evaluates
    JVM-side (``LocalTableScan``), not as a pickled Python RDD.

    ``rows``: iterable of tuples/Rows/lists (consumed once).
    ``schema``: StructType or DDL string — REQUIRED (never inferred, so
    the frame's types cannot drift from the caller's contract).

    Falls back to the classic ``spark.createDataFrame(rows, schema)``
    when the Arrow conversion is unavailable or rejects the payload
    (same semantics, slower evaluation) — behavior, not just results,
    is identical either way.
    """
    rows = [tuple(r) for r in rows]
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not rows:
        # Zero-row frame: even the Arrow path parallelizes an empty
        # pandas frame into defaultParallelism EMPTY pickled slices, and
        # every evaluation still launches one Python worker per slice
        # (profiled: a 32-task, 7-task-second stage per evaluation of an
        # empty star list). Build the empty LocalRelation directly in
        # the JVM (the same node createDataFrame(List[Row], schema)
        # produces): ``LocalTableScan <empty>``, zero tasks, and the
        # EXACT StructType — nullability flags and field metadata
        # included, unlike the round-17 typed-null Range projection
        # which relaxed every field to nullable (ADVICE r17).
        try:
            jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
                schema.json()
            )
            jdf = spark._jsparkSession.createDataFrame(
                spark._jvm.java.util.ArrayList(), jschema
            )
            return DataFrame(jdf, spark)
        except Exception:
            return spark.createDataFrame([], schema)
    try:
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=schema.fieldNames(), dtype=object)
        df = spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)
    return df
