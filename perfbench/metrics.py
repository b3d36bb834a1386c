"""Every metric the benchmark reports, with its unit and direction.

``BENCHMARK.json`` lists the same names (a test keeps the two in step).
``WORKLOADS.md`` says which end-to-end metric each per-layer metric
should move, and on which workload.
"""

from __future__ import annotations

#: (name, unit, better) reported by untraced runs, on every workload.
#: Cost per operation is CPU time, not wall time: on a shared host the
#: wall time of the same run moved by more than the bounds allow.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("cpu_s_per_op", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)

#: Spans whose Spark jobs are reported counter by counter.
COUNTED_SPANS = (
    "api.get",
    "tickquery.exec",
    "ingest.append_batch",
    "opbank.construct",
    "opbank.run",
)

#: Operator, function and streaming modules the opbank list covers, one
#: timed group each (``workloads.OPBANK_ENTRIES`` maps every entry to one of them).
MODULES = (
    "operators.timeseries",
    "operators.mediacodec",
    "operators.planner",
    "operators.diversify",
    "operators.decontam",
    "operators.perceptron",
    "functions.text",
    "streaming.stateful",
    "operators.sampling",
)

_SPARK_UNITS = {
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "input_bytes": ("B", "lower"),
    "input_records": ("count", "lower"),
    "shuffle_read_bytes": ("B", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "executor_cpu_s": ("s", "lower"),
    "task_wait_s": ("s", "lower"),
    "failed_tasks": ("count", "lower"),
}

PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    ("server.self_s", "s", "lower"),
    ("server.errors", "count", "lower"),
    ("api.get.s", "s", "lower"),
    ("api.query.s", "s", "lower"),
    ("api.get.rows_examined", "count", "lower"),
    ("ingest.read_ticks.s", "s", "lower"),
    ("ingest.read_ticks.files", "count", "lower"),
    ("ingest.read_ticks.dedup_share", "ratio", "lower"),
    ("ingest.append_batch.s", "s", "lower"),
    ("ingest.append_batch.bytes_written", "B", "lower"),
    ("tickquery.plan_s", "s", "lower"),
    ("tickquery.exec_s", "s", "lower"),
    ("tickquery.rows_examined_per_row", "ratio", "lower"),
    ("rollup.hit_ratio", "ratio", "higher"),
    ("rollup.route.s", "s", "lower"),
    ("rollup.refresh.s", "s", "lower"),
    ("rollup.files_per_series", "count", "lower"),
    ("opbank.construct_s", "s", "lower"),
    ("opbank.run_s", "s", "lower"),
    ("opbank.python_eval_s", "s", "lower"),
    *((f"{m}.s", "s", "lower") for m in MODULES),
    ("cachereg.fills", "count", "lower"),
    ("cachereg.evictions", "count", "lower"),
    ("cachereg.persisted_rdds_end", "count", "lower"),
    ("cachereg.persisted_bytes_end", "B", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    *(
        (f"spark.{span}.{c}", unit, better)
        for span in COUNTED_SPANS
        for c, (unit, better) in _SPARK_UNITS.items()
    ),
)
