"""Per-layer metrics of a traced run, named after this repository's modules.

Every metric is per timed operation (an object converted or a query
answered), averaged over the run; a layer the workload never calls reads 0.
Times are self times: a span's duration minus what its child spans cover.
Counts of py4j calls are inclusive of the layer's callees.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import tracing

# span name -> layer metric its self time adds to
SELF_TIME = {
    "operators.convert.convert": "operators.convert.self_s",
    "functions.dt_rewrite.rewrite_dt_fields": "functions.dt_rewrite.compile_s",
    "functions.dt_rewrite.dt_rewrite_paths": "functions.dt_rewrite.compile_s",
    "sources.ndjson.read_ndjson_parallel": "sources.ndjson.read_s",
    "sources.catalog.load_table": "sources.catalog.load_table_s",
}
STREAM_PROGRESS = {
    "addBatch": "streaming.convert_stream.add_batch_ms",
    "queryPlanning": "streaming.convert_stream.query_planning_ms",
    "walCommit": "streaming.convert_stream.wal_commit_ms",
}


def metric_names(pool: tuple[str, ...]) -> list[str]:
    """Every per-layer metric a traced run reports, for a query pool."""
    names = [
        "session.build_s",
        "operators.convert.self_s", "operators.convert.jobs", "operators.convert.stages",
        "operators.convert.tasks", "operators.convert.py4j_calls",
        "functions.dt_rewrite.compile_s",
        "sources.ndjson.read_s", "sources.ndjson.spill_bytes",
        *(f"spark.stages.{k}" for k in tracing.STAGE_FIELDS),
        "sources.catalog.load_table_s", "sources.catalog.py4j_calls",
        "queries.build_s", "queries.build_py4j_calls", "queries.exec_s",
        "py4j.calls",
        *STREAM_PROGRESS.values(),
    ]
    for name in pool:
        names += [f"queries.{name}.build_s", f"queries.{name}.build_py4j_calls"]
    return names


def per_layer(run, stage: dict[str, dict], pool: tuple[str, ...]) -> dict[str, float]:
    """The per-layer metrics of ``run`` (a finished, traced worker.Run) from
    its spans and the per-op stage metrics parsed from its event log."""
    spans = run.tracer.spans
    selfs = tracing.self_times(spans)
    timed = {op["id"]: op for op in run.ops}
    main = [op for op in run.ops if op["kind"] in ("convert", "query")]
    n = max(len(main), 1)
    m = dict.fromkeys(metric_names(pool), 0.0)
    entry_runs = {name: sum(1 for op in main if op["name"] == name) for name in pool}
    for s in spans:
        if s["op"] not in timed:
            continue
        name = s["name"]
        if name in SELF_TIME:
            m[SELF_TIME[name]] += selfs[s["id"]] / n
        if name == "op":
            m["py4j.calls"] += s["py4j_calls"] / n
        elif name == "operators.convert.convert":
            m["operators.convert.py4j_calls"] += s["py4j_calls"] / n
        elif name == "sources.ndjson.read_ndjson_parallel":
            m["sources.ndjson.spill_bytes"] += s.get("spill_bytes", 0) / n
        elif name == "sources.catalog.load_table":
            m["sources.catalog.py4j_calls"] += s["py4j_calls"] / n
        elif name.startswith("queries.build."):
            entry = name[len("queries.build."):]
            m["queries.build_s"] += selfs[s["id"]] / n
            m["queries.build_py4j_calls"] += s["py4j_calls"] / n
            m[f"queries.{entry}.build_s"] += selfs[s["id"]] / entry_runs[entry]
            m[f"queries.{entry}.build_py4j_calls"] += s["py4j_calls"] / entry_runs[entry]
        elif name.startswith("queries.exec."):
            m["queries.exec_s"] += selfs[s["id"]] / n

    builds = [s["end"] - s["start"] for s in spans if s["name"] == "session.build_session"]
    m["session.build_s"] = statistics.median(builds)

    for k in ("jobs", "stages", "tasks"):
        m[f"operators.convert.{k}"] = sum(
            stage[op["id"]][k] for op in run.ops if op["kind"] == "convert") / n
    for k in tracing.STAGE_FIELDS:
        m[f"spark.stages.{k}"] = sum(stage[op_id][k] for op_id in timed) / n

    batches = [
        p.durationMs
        for op_id, queries in run.streams.items() if op_id in timed
        for q in queries for p in q.recentProgress
    ]
    for key, metric in STREAM_PROGRESS.items():
        vals = [b.get(key, 0) for b in batches]
        m[metric] = float(statistics.median(vals)) if vals else 0.0
    return m


UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def traced_result(run, result: dict, pool: tuple[str, ...], root: str) -> dict:
    """Replace the traced run's end-to-end metrics with its per-layer ones,
    after printing both and the tracing overhead against the latest untraced
    run of the same workload (same seed preferred) found in this checkout."""
    args = run.args
    stage = tracing.stage_metrics_by_op(os.path.join(run.work, "eventlog"), run.ops)
    layers = per_layer(run, stage, pool)
    e2e = result["metrics"]
    out_dir = os.path.join(root, ".perfbench", "trace")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}")
    run.tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".ops.json", "w") as f:
        json.dump({"ops": run.ops, "stages": stage}, f)

    print("traced end-to-end: " + json.dumps(e2e), flush=True)
    results = os.path.join(root, ".perfbench", "results")
    same = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
    others = sorted(glob.glob(os.path.join(results, f"{args.workload}-s*-t0.json")), key=os.path.getmtime)
    base = same if os.path.exists(same) else (others[-1] if others else None)
    if base is None:
        print("tracing overhead: no untraced run of this workload in this checkout to compare with")
    else:
        with open(base) as f:
            plain = json.load(f)["metrics"]
        diffs = {
            k: {"traced": e2e[k]["value"], "untraced": plain[k]["value"],
                "overhead": e2e[k]["value"] - plain[k]["value"], "unit": e2e[k]["unit"]}
            for k in e2e if k in plain
        }
        print(f"tracing overhead vs {os.path.basename(base)}: " + json.dumps(diffs), flush=True)
    return {**result, "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}}
