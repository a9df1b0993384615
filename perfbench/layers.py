"""Per-layer metrics of a traced run, aggregated from its spans.

Sums are taken per lap and reported as the median over the window's laps;
``query.<name>.*`` values are the median over that query's calls.  A metric
of a layer or query that the workload does not run reads 0.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from spans import self_times, subtree_jobs

# Span names, one per layer; "op" is the benchmark's own per-operation span.
LAYERS = (
    "op",
    "queries.build",
    "catalog.load_table",
    "lineage.cut_lineage",
    "spark.plan",
    "spark.exec",
    "operators.star.siga_pipeline",
    "sources.csv_ref.write_reference_csv",
)


def _written_bytes(args, kwargs) -> dict:
    """Bytes under the directory ``write_reference_csv(df, path)`` wrote."""
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    return {"bytes": sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )}


# Layers wrapped where the engine's modules bind them:
# (module, function, span attributes taken after the call).
WRAPPED = (
    ("catalog", "load_table", None),
    ("lineage", "cut_lineage", None),
    ("operators.star", "siga_pipeline", None),
    ("sources.csv_ref", "write_reference_csv", _written_bytes),
)
_CALLED = tuple(f"{module}.{fn}" for module, fn, _ in WRAPPED)


def metric_units(queries) -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {
        "session.parallelism": "count",
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "session.peak_rss_mb": "MB",
        "queries.build_s": "s",
        "queries.build_jobs": "count",
        "spark.plan_s": "s",
        "spark.exec_s": "s",
        "spark.exec_jobs": "count",
        "spark.exec_stages": "count",
        "spark.exec_tasks": "count",
        "spark.untagged_jobs": "count",
        "trace.ops_per_s": "1/s",
        "trace.untraced_ops_per_s": "1/s",
        "trace.overhead_frac": "ratio",
    }
    for layer in _CALLED:
        if not layer.startswith("operators."):
            units[f"{layer}.calls"] = "count"
        units[f"{layer}.s"] = "s"
        units[f"{layer}.jobs"] = "count"
    units["sources.csv_ref.write_reference_csv.bytes"] = "B"
    for layer in LAYERS:
        units[f"{layer}.self_s"] = "s"
    for q in queries:
        units[f"query.{q}.build_s"] = "s"
        units[f"query.{q}.exec_s"] = "s"
        units[f"query.{q}.build_jobs"] = "count"
    return units


def per_layer(spans, laps: list[list[int]]) -> dict[str, float]:
    """Metrics from the spans of the traced window; ``laps`` holds op ids."""
    self_t = self_times(spans)
    jobs = subtree_jobs(spans)
    by_op = defaultdict(list)
    for s in spans:
        if s.op is not None:
            by_op[s.op].append(s)

    per_lap = []
    per_query = defaultdict(list)
    for lap in laps:
        tot = defaultdict(float)
        for op_id in lap:
            query = build = exec_s = None
            for s in by_op[op_id]:
                dur = s.end - s.start
                tot[f"{s.name}.self_s"] += self_t[s.id]
                tot["spark.untagged_jobs"] += len(s.untagged)
                if s.name == "op":
                    query = s.attrs.get("query")
                elif s.name == "queries.build":
                    tot["queries.build_s"] += dur
                    tot["queries.build_jobs"] += len(jobs[s.id])
                    build = (dur, len(jobs[s.id]))
                elif s.name == "spark.plan":
                    tot["spark.plan_s"] += dur
                elif s.name == "spark.exec":
                    tot["spark.exec_s"] += dur
                    tot["spark.exec_jobs"] += len(jobs[s.id])
                    tot["spark.exec_stages"] += s.attrs.get("stages", 0)
                    tot["spark.exec_tasks"] += s.attrs.get("tasks", 0)
                    exec_s = dur
                elif s.name in _CALLED:
                    tot[f"{s.name}.calls"] += 1
                    tot[f"{s.name}.s"] += dur
                    tot[f"{s.name}.jobs"] += len(jobs[s.id])
                    tot[f"{s.name}.bytes"] += s.attrs.get("bytes", 0)
            if query is not None and build is not None and exec_s is not None:
                per_query[f"query.{query}.build_s"].append(build[0])
                per_query[f"query.{query}.build_jobs"].append(build[1])
                per_query[f"query.{query}.exec_s"].append(exec_s)
        per_lap.append(tot)

    keys = {k for tot in per_lap for k in tot}
    out = {k: statistics.median(tot.get(k, 0.0) for tot in per_lap) for k in keys}
    out.update({k: statistics.median(v) for k, v in per_query.items()})
    return out

