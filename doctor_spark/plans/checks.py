"""Assertions over physical plans — the ".explain and iterate" loop,
encoded so regressions fail tests instead of silently costing a shuffle or
a Python round-trip at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def assert_jvm_only(df: DataFrame) -> None:
    """Fail if any Python evaluation node is in the plan (the relational
    stages must whole-stage-codegen; only the extraction/media operators
    may cross into Python)."""
    plan = physical_plan(df, "simple")
    if any(node in plan for node in ("EvalPython", "MapInPandas", "MapInArrow")):
        raise AssertionError(f"Python node in supposedly-JVM plan:\n{plan}")


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet PushedFilters entries in the plan."""
    plan = physical_plan(df)
    return [
        m.group(1)
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan)
        if m.group(1).strip()
    ]


def read_schema_columns(df: DataFrame) -> set[str]:
    """Union of columns actually read from parquet (column pruning check)."""
    plan = physical_plan(df)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count — every Exchange is a full write+read of the data."""
    return physical_plan(df, "simple").count("Exchange")

