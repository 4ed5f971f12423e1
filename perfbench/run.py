"""Benchmark entry point.

    python3 perfbench/run.py --workload {convert_feed,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  It starts ``worker.py`` in a private
working directory under ``.perfbench/`` with the package on PYTHONPATH
(Python workers import it from there, whatever their cwd), all Spark,
Java and Python scratch space inside that directory, one Spark core per
CPU and a driver heap sized to the machine.  It waits for the worker and
every process the worker started, then prints the worker's result JSON as
the last line of stdout.  With ``--trace 1`` that JSON holds the per-layer
metrics instead of the end-to-end ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("convert_feed", "query_mix")
DEADLINE_S = 170  # the whole run, including clean-up, ends before 180 s
REQUIRED = (
    "json_to_parquet_spark/__init__.py",
    "tests/findings_fixture.py",
    "perfbench/data/sf0.01/lineitem.parquet",
)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])  # user..steal; guest time is inside user


def driver_mem_mb(total_mb: int) -> int:
    """A quarter of the machine, at most 2 GiB: the largest input is ~70 MB
    of NDJSON, and the machine may be shared."""
    return max(512, min(2048, total_mb // 4))


def _group_members(sid: int) -> list[int]:
    """Pids whose process group or session is ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, session; a zombie only waits to be reaped
        if fields[0] != "Z" and sid in (int(fields[2]), int(fields[3])):
            pids.append(int(name))
    return pids


def stop_group(sid: int, grace_s: float = 5.0) -> None:
    """Stop every process left in the worker's session and wait until all
    of them are gone."""
    for sig, wait in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        pids = _group_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while _group_members(sid) and time.monotonic() < end:
            time.sleep(0.1)


def run_in_session(cmd: list[str], t_start: float, **kwargs) -> int | None:
    """Run ``cmd`` in a session of its own until it exits or the run's
    deadline passes; then stop whatever it left behind and wait for it.
    Returns its exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kwargs)
    code = None
    try:
        code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s, stopping {os.path.basename(cmd[1])}",
              file=sys.stderr)
    finally:
        stop_group(proc.pid)
        proc.wait()
    return code


def main() -> int:
    t_start = time.monotonic()
    steal0, total0 = cpu_ticks()
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "cwd")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    total_mb = mem_total_mb()
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + [x for x in [env.get("PYTHONPATH")] if x]),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb(total_mb)}m",
        "TMPDIR": dirs["tmp"],
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    print("perfbench env: " + json.dumps({
        "nproc": cpus, "mem_total_mb": total_mb,
        "driver_heap": env["SPARK_GRAFT_DRIVER_MEM"], "master": f"local[{cpus}]",
        "cwd": dirs["cwd"], "PYTHONPATH": env["PYTHONPATH"],
        "SPARK_LOCAL_DIRS": env["SPARK_LOCAL_DIRS"], "TMPDIR": env["TMPDIR"],
        "console_progress": False, "python": sys.version.split()[0],
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
    }), flush=True)

    code = 0
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", ROOT, "--result", result_path]
    with open(log_path, "w") as log:
        if args.workload == "convert_feed":
            t0 = time.monotonic()
            code = run_in_session([sys.executable, os.path.join(HERE, "inputs.py"), ROOT, str(args.seed)],
                                  t_start, cwd=dirs["cwd"], env=env, stderr=log)
            print(f"perfbench inputs: {time.monotonic() - t0:.2f} s", flush=True)
        if code == 0:
            code = run_in_session(cmd, t_start, cwd=dirs["cwd"], env=env, stderr=log)

    result = None
    if code == 0 and os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    else:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests; runs with a high share
    # are slow for reasons outside the program
    print(f"perfbench host: steal {100.0 * (steal1 - steal0) / max(total1 - total0, 1):.1f}% of CPU time, "
          f"run {time.monotonic() - t_start:.1f} s", flush=True)
    if result is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
