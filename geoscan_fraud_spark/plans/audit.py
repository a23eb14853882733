"""Physical-plan audit helpers — make plan regressions visible.

At 100 TB the difference between a broadcast join and a shuffled one, or a
pruned scan and a full one, is the difference between minutes and days.
These helpers extract the properties that matter from
`df._jdf.queryExecution()` so tests and `tools/profile.py plans` can
assert them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), "formatted"
    )


def plan_summary(df: DataFrame) -> dict:
    """Counts of the plan features that matter at scale."""
    plan = formatted_plan(df)
    # tree section: "Exchange (14)" = shuffle; "BroadcastExchange (5)" = bc
    return {
        "broadcast_joins": len(re.findall(r"^\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan, re.M)),
        "sortmerge_joins": len(re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M)),
        "shuffles": len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan)),
        "python_eval": len(
            re.findall(
                r"(?:Batch|Arrow)EvalPython|FlatMapGroupsInPandas|MapInPandas", plan
            )
        ),
        "scans": len(re.findall(r"Scan parquet", plan)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "row_sorts": len(re.findall(r"^\(\d+\) Sort\b", plan, re.M)),
    }


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — verifies column pruning."""
    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
