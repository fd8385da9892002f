"""Per-layer metrics of a traced run.

Every ``*_s`` metric of a layer is that layer's self time: the time of
its spans not covered by child spans, summed over all threads. Spark
jobs belong to the innermost span open on the thread that launched
them, so ``spark.commit.*`` holds the build's stage jobs (each stage
runs inside a catalog commit). Spans a workload does not open read 0.
``trace.unattributed_s`` is the time on the benchmark's own threads that
no span covers, and ``trace.overhead_s`` the measured cost of one span
times the number of spans; ``trace.setup_s`` is the traced run's
set-up time, to set against an untraced run's. ``queries.*`` and
``writes.*`` are client-side figures that swing too much between runs
to bound, or that only one workload has.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from perfbench import trace

BUILD_STAGES = ("doc_meta", "postings", "term_totals", "context_stats",
                "term_stats", "term_dict", "blocks")

# per-layer time metric -> the span names whose self time it sums
SELF_TIMES = {
    "engine.search_s": ("engine.search", "engine.plan"),
    "engine.compiler_s": ("engine.compiler",),
    "engine.collect_s": ("engine.collect",),
    "engine.count_s": ("engine.count",),
    "engine.completion_s": ("engine.completion",),
    "engine.insert_s": ("engine.insert",),
    "engine.refresh_stats_s": ("engine.refresh_stats",),
    "engine.build_s": ("engine.build",),
    "engine.cache_s": ("engine.cache",),
    "parser.parse_s": ("parser.parse",),
    "compiler.eval_s": ("compiler.eval",),
    "wand.topk_s": ("wand.topk",),
    "catalog.commit_s": ("catalog.commit",),
    "catalog.read_s": ("catalog.read",),
    # client latency minus the engine calls made for it
    "server.self_s": ("client", "server"),
    "setup.spark_s": ("setup.spark",),
    "setup.inputs_s": ("setup.inputs",),
}

# short name -> job group whose Spark work is reported on its own
SPARK_GROUPS = {
    "unspanned": trace.UNGROUPED,
    "collect": "engine.collect",
    "count": "engine.count",
    "completion": "engine.completion",
    "wand": "wand.topk",
    "compiler": "engine.compiler",
    "commit": "catalog.commit",
    "read": "catalog.read",
    "insert": "engine.insert",
    "refresh_stats": "engine.refresh_stats",
}
# job groups of the spans that serve a query
QUERY_GROUPS = ("server", "engine.search", "engine.plan", "engine.compiler",
                "parser.parse", "compiler.eval", "wand.topk", "engine.collect",
                "engine.count", "engine.completion")
SPAN_NAMES = sorted(
    {n for names in SELF_TIMES.values() for n in names}
    | set(SPARK_GROUPS.values()) | set(QUERY_GROUPS)
    | {"window.wait", "check.oracle"}
)

def _m(v, unit):
    return {"value": v, "unit": unit}


def per_layer(tracer, c, spark, built, build_s, wall, e2e, traffic,
              n_queries: int) -> dict:
    """Everything but the event-log figures, which add_event_log reads
    once Spark has stopped."""
    out: dict[str, dict] = {k: _m(v, u) for k, (v, u) in traffic.items()}
    st = trace.self_times(tracer.spans)
    for metric, names in SELF_TIMES.items():
        out[metric] = _m(sum(st.get(n, 0.0) for n in names), "s")

    n = c.n
    out["server.requests"] = _m(int(n["server.requests"]), "count")
    out["server.errors"] = _m(int(n["server.errors"]), "count")
    calls, builds = n["engine.search_calls"], n["engine.plan_builds"]
    out["engine.plan_builds"] = _m(int(builds), "count")
    out["engine.plan_hit_ratio"] = _m(1 - builds / calls if calls else 0.0, "ratio")
    out["engine.compiler_builds"] = _m(int(n["engine.compiler_builds"]), "count")

    # plans.wand: counts from attributed calls only (see instrument)
    out["wand.routed_ratio"] = _m(n["wand.calls"] / builds if builds else 0.0, "ratio")
    for k in ("blocks_total", "blocks_scanned", "seed_jobs"):
        out[f"wand.{k}"] = _m(int(n[f"wand.{k}"]), "count")
    out["wand.stats_rows"] = _m(int(n["wand.stats_rows_collected"]), "count")
    tot = n["wand.blocks_total"]
    out["wand.pruned_frac"] = _m(1 - n["wand.blocks_scanned"] / tot if tot else 0.0,
                                 "ratio")
    out["wand.unattributed_calls"] = _m(int(n["wand.unattributed_calls"]), "count")

    # operators.build: stage walls from the catalog manifest the build wrote
    walls = {e["stage_key"].split("/", 1)[1]: e["wall_ms"] / 1000.0 for e in built}
    for s in BUILD_STAGES:
        out[f"build.{s}_s"] = _m(walls.get(s, 0.0), "s")
    out["build.stage_overlap"] = _m(sum(walls.values()) / build_s, "ratio")

    # sources.catalog
    out["catalog.commits"] = _m(int(n["catalog.commits"]), "count")
    out["catalog.bytes_written"] = _m(int(n["catalog.bytes_written"]), "bytes")
    out["catalog.files_written"] = _m(int(n["catalog.files_written"]), "count")
    out["catalog.snapshots_live"] = _m(
        statistics.mean(c.widths) if c.widths else 0.0, "count")

    # spark: job, stage and task counts from the status tracker
    counts = trace.status_counts(spark.sparkContext, SPAN_NAMES)
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = _m(sum(v[k] for v in counts.values()), "count")
    for short, g in SPARK_GROUPS.items():
        out[f"spark.{short}.jobs"] = _m(counts[g]["jobs"], "count")
    q_jobs = sum(counts[g]["jobs"] for g in QUERY_GROUPS)
    out["spark.jobs_per_query"] = _m(q_jobs / n_queries if n_queries else 0.0, "count")

    out["trace.spans"] = _m(len(tracer.spans), "count")
    out["trace.overhead_s"] = _m(len(tracer.spans) * trace.span_cost(tracer), "s")
    out["trace.unattributed_s"] = _m(trace.unattributed(tracer.spans, tracer.lanes), "s")
    out["trace.wall_s"] = _m(wall, "s")
    out["trace.setup_s"] = _m(e2e["setup_s"][0], "s")
    return out


def add_event_log(metrics: dict, work: Path) -> None:
    """Task time, shuffle and spill bytes in total and per group, read
    from the event log after Spark stopped (complete only then); then
    check that the run printed exactly the declared metrics."""
    logs = [p for p in (work / "events").iterdir() if p.is_file()]
    roll = trace.event_log_rollup(str(logs[0]))
    zero = {"task_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0}
    for k, unit in (("task_s", "s"), ("shuffle_read_bytes", "bytes"),
                    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        metrics[f"spark.{k}"] = _m(sum(r[k] for r in roll.values()), unit)
    for short, g in SPARK_GROUPS.items():
        metrics[f"spark.{short}.task_s"] = _m(roll.get(g, zero)["task_s"], "s")
    b = roll.get("catalog.commit", zero)
    metrics["spark.commit.shuffle_write_bytes"] = _m(b["shuffle_write_bytes"], "bytes")
    metrics["spark.commit.spill_bytes"] = _m(b["spill_bytes"], "bytes")
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json")
                      .read_text())
    declared = {m["name"] for m in spec["per_layer"]}
    if set(metrics) != declared:
        raise RuntimeError(f"per-layer metrics differ: {set(metrics) ^ declared}")
