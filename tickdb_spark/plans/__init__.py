"""Physical-plan introspection helpers: assert the plans we designed for
(pushdown reaching the scan, broadcasts instead of sort-merge joins,
bounded shuffle counts) stay that way. At 100 TB a silently regressed
plan is a production incident; these checks are the regression tests."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    out = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", physical_plan(df)):
        # split on '), ' so 'Op(col,val)' stays intact
        out.extend(f.strip().rstrip(")") + ")" for f in m.group(1).split("), ") if f.strip())
    return out


def count_op(df: DataFrame, op: str) -> int:
    """Count physical operators by name, e.g. 'Exchange',
    'BroadcastHashJoin', 'SortMergeJoin' (excludes reuse references)."""
    plan = physical_plan(df)
    return len(re.findall(rf"\(\d+\) {re.escape(op)}\b(?! \[Reuses)", plan))


def scan_read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^\n]*)", physical_plan(df))


def partition_filters(df: DataFrame) -> list[str]:
    """The PartitionFilters entry of each of the plan's file scans."""
    return re.findall(r"PartitionFilters: \[(.*?)\]\n", physical_plan(df))


def files_read(df: DataFrame) -> int:
    """Files the scans of ``df``'s executed plan opened (their
    ``numFiles`` SQL metric), summed; read it after an action ran ``df``."""

    def walk(plan) -> int:
        kind = plan.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(plan.executedPlan())
        if kind.endswith("QueryStageExec"):
            return walk(plan.plan())
        metrics = plan.metrics()
        n = metrics.apply("numFiles").value() if metrics.contains("numFiles") else 0
        kids = plan.children()
        return n + sum(walk(kids.apply(i)) for i in range(kids.size()))

    return walk(df._jdf.queryExecution().executedPlan())
