"""Profiling harness: run selected bench entries with
the Spark event log enabled and per-entry job descriptions, then
aggregate jobs/stages/tasks/shuffle bytes per entry from the event log.

Usage:
    python scripts/profile_entries.py x172_stream_neardup x261_drift_reindex_io ...
    python scripts/profile_entries.py --top N      # N heaviest from BENCH_RAWS medians

Prints, per entry: wall seconds (1 warm + 1 timed, same noop-sink action
as bench.py), number of Spark jobs, number of stages, total task time,
shuffle read/write bytes, and peak single-stage task time — enough to
tell scheduler overhead from compute from shuffle (guide §1.1/§7).
Writes the raw per-job table to /tmp/profile_entries/<entry>.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVLOG = "/tmp/profile_entries/events"
OUT_DIR = "/tmp/profile_entries"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    from json_to_parquet_spark.queries import registry
    from json_to_parquet_spark.session import build_session

    shutil.rmtree(EVLOG, ignore_errors=True)
    os.makedirs(EVLOG, exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)

    spark = build_session(
        app_name="profile_entries",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{EVLOG}",
            "spark.eventLog.compress": "false",
        },
    )
    reg = registry()

    if names and names[0] == "--top":
        n = int(names[1])
        med = json.load(open("BENCH_RAWS.json"))["medians"]
        skip = {"x172_drain", "x172_harness", "x172_drain_per_batch"}
        names = [
            k
            for k, _ in sorted(med.items(), key=lambda kv: -kv[1])
            if k in reg and k not in skip
        ][:n]

    sc = spark.sparkContext
    walls: dict[str, float] = {}
    for name in names:
        fn = reg[name].spark

        def run() -> None:
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()

        sc.setJobDescription(f"warm:{name}")
        run()  # warm-up, excluded from the aggregation below
        sc.setJobDescription(f"timed:{name}")
        t0 = time.perf_counter()
        run()
        walls[name] = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)
        print(f"ran {name}: {walls[name]}s", file=sys.stderr)

    sc.setJobDescription("shutdown")
    spark.stop()
    time.sleep(2)  # let the event log flush

    # ---- aggregate the event log ----
    logs = [os.path.join(EVLOG, f) for f in os.listdir(EVLOG)]
    assert len(logs) == 1, logs
    if os.path.isdir(logs[0]):
        # Spark 4 rolling event log: a directory of events_* part files
        logs = sorted(
            os.path.join(logs[0], f)
            for f in os.listdir(logs[0])
            if f.startswith("events_")
        )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}

    def _lines():
        for lg in logs:
            with open(lg) as f:
                yield from f

    for line in _lines():
        ev = json.loads(line)
        k = ev.get("Event")
        if k == "SparkListenerJobStart":
            jid = ev["Job ID"]
            desc = ev["Properties"].get("spark.job.description", "")
            jobs[jid] = {
                "desc": desc,
                "t0": ev["Submission Time"],
                "stages": 0,
                "tasks": 0,
                "task_ms": 0,
                "sh_read": 0,
                "sh_write": 0,
                "max_stage_ms": 0,
            }
            for sid in ev["Stage IDs"]:
                stage_job[sid] = jid
        elif k == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["wall_ms"] = ev["Completion Time"] - jobs[jid]["t0"]
        elif k == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            jid = stage_job.get(si["Stage ID"])
            if jid is None or jid not in jobs:
                continue
            j = jobs[jid]
            j["stages"] += 1
            j["tasks"] += si["Number of Tasks"]
            ms = si.get("Completion Time", 0) - si.get("Submission Time", 0)
            j["max_stage_ms"] = max(j["max_stage_ms"], ms)
        elif k == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None or jid not in jobs:
                continue
            m = ev.get("Task Metrics") or {}
            j = jobs[jid]
            j["task_ms"] += m.get("Executor Run Time", 0)
            j["sh_read"] += (m.get("Shuffle Read Metrics") or {}).get(
                "Remote Bytes Read", 0
            ) + (m.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)
            j["sh_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )

    # roll up per entry (timed: only)
    per: dict[str, dict] = {}
    for j in jobs.values():
        desc = j["desc"]
        if not desc.startswith("timed:"):
            continue
        name = desc[len("timed:") :]
        p = per.setdefault(
            name,
            {
                "jobs": 0,
                "stages": 0,
                "tasks": 0,
                "job_wall_ms": 0,
                "task_ms": 0,
                "sh_read_mb": 0.0,
                "sh_write_mb": 0.0,
            },
        )
        p["jobs"] += 1
        p["stages"] += j["stages"]
        p["tasks"] += j["tasks"]
        p["job_wall_ms"] += j.get("wall_ms", 0)
        p["task_ms"] += j["task_ms"]
        p["sh_read_mb"] += j["sh_read"] / 1e6
        p["sh_write_mb"] += j["sh_write"] / 1e6

    print(
        f"{'entry':42s} {'wall_s':>7s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}"
        f" {'jobwall_s':>9s} {'task_s':>7s} {'shW_mb':>7s}"
    )
    for name in names:
        p = per.get(name, {})
        print(
            f"{name:42s} {walls.get(name, -1):7.2f} {p.get('jobs', 0):5d}"
            f" {p.get('stages', 0):6d} {p.get('tasks', 0):6d}"
            f" {p.get('job_wall_ms', 0) / 1e3:9.2f}"
            f" {p.get('task_ms', 0) / 1e3:7.2f}"
            f" {p.get('sh_write_mb', 0.0):7.2f}"
        )
        with open(os.path.join(OUT_DIR, f"{name}.json"), "w") as f:
            detail = [
                dict(j, wall_ms=j.get("wall_ms"))
                for j in jobs.values()
                if j["desc"] == f"timed:{name}"
            ]
            json.dump(detail, f, indent=1)


if __name__ == "__main__":
    main()
