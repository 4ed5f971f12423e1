"""One benchmark run, inside the process that drives Spark.

``run.py`` starts this file with the environment already set (PYTHONPATH,
SPARK_GRAFT_CPUS, SPARK_LOCAL_DIRS, SPARK_GRAFT_DRIVER_MEM, TMPDIR) and a
private working directory as cwd; this file writes the result JSON to the
path given by ``--result``.

Each workload is a closed loop with one client.  A run (its inputs already
generated by ``inputs.py``): set up SETUPS times (session build plus the
workload's warm-up; ``setup_s`` is the median), do any once-per-process
correctness pass, then run whole passes of operations until their summed
wall-clock time reaches ``--seconds``.  Every operation's output is checked
outside its timed interval.

The time metrics are CPU seconds of this process's session (``cpu.py``:
this process, the driver JVM without its JIT compiler threads, Spark's
Python workers), which a shared host's load moves far less than wall-clock
time; wall-clock figures are printed alongside for reading.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import duckdb
import py4j.java_gateway
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import cpu
import inputs
import layers
import stats
import tracing
from json_to_parquet_spark.queries import registry

# Module objects, not names: package __init__s re-export functions under the
# same names as their modules (``operators.convert``), and tracing patches
# bindings inside these modules.
session_mod = importlib.import_module("json_to_parquet_spark.session")
convert_mod = importlib.import_module("json_to_parquet_spark.operators.convert")
streaming_gate = importlib.import_module("json_to_parquet_spark.queries.streaming_gate")
catalog = importlib.import_module("json_to_parquet_spark.sources.catalog")
schema_registry = importlib.import_module("json_to_parquet_spark.sources.schema_registry")
convert_stream = importlib.import_module("json_to_parquet_spark.streaming.convert_stream")

SETUPS = 3
# pause between the untimed steps and the first timed operation
SETTLE_S = 1.0
QUERY_POOL = (
    # construction-bound: driver-side DataFrame building dominates
    "q01_pricing_summary",
    "q03_join_revenue_by_nation",
    "q07_topk_per_customer",
    "q17_json_funcs",
    "q25_hourly_rollup",
    "q32_shipping_priority",
    "q76_local_supplier_volume",
    # execution-bound
    "x02_dedup_keyed",
    # the streaming package: file-source stream -> foreachBatch convert
    "x28_stream_convert",
)
E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_p50_s": "s",
    "ops_per_cpu_s": "1/s",
    "records_per_cpu_s": "1/s",
    "readback_cpu_s": "s",
    "parquet_bytes_per_json_byte": "ratio",
    "peak_rss_mb": "MB",
}
# convert_feed converts its bulk object this many times per pass, and
# reads each output back this many times
BULK_PER_PASS = 1
BULK_READBACKS = 5
# read-backs of the streaming entry's output per run of it
STREAM_READBACKS = 3
# rounds of the pool per timed pass, each in its own seeded order.  With
# one, the median is whichever of nine entries ranks fifth, and the entries
# around it differ from run to run by a fifth: the median spread by as much
# over ten seeds.  Two give each rank two samples.
QUERY_ROUNDS = 2
STREAM_ENTRY = "x28_stream_convert"
QUERY_WARMUP = "q17_json_funcs"
STREAM_EXPLODE = ("items",)
STREAM_DT_FIELD = "created_time_dt"


def readback(spark, dest: str, lo: int, hi: int, explode: tuple, dt_field: str) -> tuple:
    """The downstream read of a converted output, through public PySpark: a
    ``time`` range filter, an explode down ``explode``, and the row count and
    latest ``dt_field`` (epoch us) of the exploded elements."""
    cur = spark.read.parquet(dest).filter((F.col("time") >= lo) & (F.col("time") < hi))
    prev = None
    for i, key in enumerate(explode):
        cur = cur.select(F.explode(key if prev is None else f"{prev}.{key}").alias(f"e{i}"))
        prev = f"e{i}"
    row = cur.agg(
        F.count(F.lit(1)).alias("n"), F.unix_micros(F.max(f"{prev}.{dt_field}")).alias("mx")
    ).collect()[0]
    return int(row["n"]), row["mx"]


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of this process plus the driver JVM."""
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def load_table_bindings() -> list:
    """The catalog module and every engine module that imported its
    ``load_table`` by name."""
    current = catalog.load_table
    return [
        mod for mod in list(sys.modules.values())
        if (getattr(mod, "__name__", "") or "").startswith("json_to_parquet_spark")
        and getattr(mod, "load_table", None) is current
    ]


class Oracle:
    """DuckDB over the same tables; each entry's oracle answer is computed
    the first time it is asked for (x28's reads a fixture that the entry
    itself writes when it first runs) and kept."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in catalog.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.answers: dict[str, tuple] = {}

    def answer(self, spec) -> tuple:
        """(columns, rows) of ``spec.oracle``."""
        if spec.name not in self.answers:
            res = self.con.execute(spec.oracle)
            self.answers[spec.name] = ([d[0] for d in res.description], res.fetchall())
        return self.answers[spec.name]


class Run:
    def __init__(self, args):
        self.args = args
        self.work = os.getcwd()
        self.out_dir = os.path.join(self.work, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.tracer = tracing.Tracer() if args.trace else None
        self.spark = None
        self.sid = os.getsid(0)
        self.setups: list[float] = []  # CPU seconds of each set-up
        self.setups_wall: list[float] = []
        self.ops: list[dict] = []  # timed operations
        self.attempted = 0
        self.failed = 0
        self.records = 0  # input records of the timed operations
        self.records_cpu_s = 0.0  # ... and the CPU time those operations took
        self.json_bytes = 0
        self.parquet_bytes = 0
        self.streams: dict[str, list] = {}  # op id -> streaming queries it started
        self.stream_dest: str | None = None
        self.rows_read: dict[str, int] = {}  # query -> source-table rows it loads
        self.loads: list[str] = []  # tables loaded by the current query
        self.verify_s = 0.0  # once-per-process oracle checks
        self.conf = {"spark.ui.showConsoleProgress": "false"}
        if args.trace:
            evdir = os.path.join(self.work, "eventlog")
            os.makedirs(evdir, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        # A fixed-size heap, touched in full at start: with a growing heap,
        # peak RSS followed the collector's resizing decisions and varied by
        # a third between runs; with a fixed one it still followed how much
        # of the heap the run happened to touch (a tenth).  No perf-data
        # file: the JVM would write it under /tmp.
        self.conf["spark.driver.extraJavaOptions"] = (
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}")

    # --- bookkeeping -------------------------------------------------------

    def check(self, what: str, problems: list[str]) -> bool:
        """Count one checked operation; report and count it failed if the
        check found problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"FAILED {what}: {'; '.join(problems[:3])}", file=sys.stderr, flush=True)
        return not problems

    def guarded(self, what: str, fn):
        """Run an untimed step; an exception counts as a failed operation."""
        try:
            return True, fn()
        except Exception:
            traceback.print_exc()
            self.check(what, ["raised " + traceback.format_exc(limit=1).strip().splitlines()[-1]])
            return False, None

    def timed(self, kind: str, name: str, fn) -> tuple[bool, object, float]:
        """Run one timed operation; returns (ok, its value, its CPU seconds).
        Tracing marks it with a job group and a root span; an exception
        counts as a failed operation."""
        op_id = f"{kind}-{len(self.ops)}"
        # each operation starts from a collected heap on both sides, rather
        # than paying for whatever garbage the one before it left
        gc.collect()
        self.spark._jvm.java.lang.System.gc()
        tr = self.tracer
        if tr is not None:
            self.spark.sparkContext.setJobGroup(op_id, name)
            tr.op = op_id
        ok, value = True, None
        cpu0 = cpu.snapshot(self.sid)
        wall_start, t0 = time.time(), time.perf_counter()
        try:
            with tr.span("op") if tr is not None else contextlib.nullcontext():
                value = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        seconds = time.perf_counter() - t0
        wall_end = time.time()
        cpu_s = cpu.cpu_s_since(cpu0, cpu.snapshot(self.sid))
        self.ops.append({
            "id": op_id, "kind": kind, "name": name, "seconds": seconds, "cpu_s": cpu_s,
            "wall_start": wall_start, "wall_end": wall_end, "ok": ok,
        })
        if tr is not None:
            tr.op = None
            self.spark.sparkContext.setJobGroup("untimed", "untimed")
        if not ok:
            self.check(f"{kind} {name}", ["raised"])
        return ok, value, cpu_s

    @staticmethod
    def settle() -> None:
        """Wait out what the untimed steps leave running in the background:
        without this pause the first timed operation cost up to half a CPU
        second more than the same operation later in the run."""
        time.sleep(SETTLE_S)

    def busy(self) -> float:
        return sum(op["seconds"] for op in self.ops)

    # --- session -----------------------------------------------------------

    def setup(self, warm_up) -> None:
        """Build the session and warm up, SETUPS times; each after the first
        stops the previous session (the JVM stays up)."""
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            cpu0, t0 = cpu.snapshot(self.sid), time.perf_counter()
            if self.tracer is not None:
                self.tracer.op = "setup"
            self.spark = session_mod.build_session(extra_conf=self.conf)
            self.guarded("warm-up", warm_up)
            if self.tracer is not None:
                self.tracer.op = None
            self.setups_wall.append(time.perf_counter() - t0)
            self.setups.append(cpu.cpu_s_since(cpu0, cpu.snapshot(self.sid)))

    def install_tracing(self) -> None:
        tr = self.tracer

        def spill(args, kwargs, df, rec):
            d = getattr(df, "_graft_spill_dir", None)
            rec["spill_bytes"] = sum(
                os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
            ) if d and os.path.isdir(d) else 0

        tr.count_py4j(py4j.java_gateway.GatewayClient)
        tr.wrap(session_mod, "build_session", "session.build_session")
        tr.wrap(convert_mod, "convert", "operators.convert.convert")
        tr.wrap(convert_mod, "read_ndjson_parallel", "sources.ndjson.read_ndjson_parallel", spill)
        tr.wrap(convert_mod, "rewrite_dt_fields", "functions.dt_rewrite.rewrite_dt_fields")
        tr.wrap(convert_mod, "dt_rewrite_paths", "functions.dt_rewrite.dt_rewrite_paths")
        tr.wrap(convert_stream, "rewrite_dt_fields", "functions.dt_rewrite.rewrite_dt_fields")
        tr.wrap(convert_stream, "stream_convert", "streaming.convert_stream.stream_convert")
        for mod in load_table_bindings():
            tr.wrap(mod, "load_table", "sources.catalog.load_table")

    def record_loads(self) -> None:
        """Note the catalog tables each operation loads (``self.loads``), to
        count the rows a query reads.  Installed before tracing, so the
        traced wrappers call this one."""
        registry()  # import every query module before patching their bindings
        original = catalog.load_table

        def recording(spark, sf, name):
            self.loads.append(name)
            return original(spark, sf, name)

        for mod in load_table_bindings():
            mod.load_table = recording

    def capture_streams(self) -> None:
        """Keep each StreamingQuery the streaming package starts (for its
        progress) and its sink directory (for the read-back)."""
        orig = convert_stream.stream_convert

        def capturing(spark, source_dir, dest, *args, **kwargs):
            q = orig(spark, source_dir, dest, *args, **kwargs)
            self.stream_dest = dest
            self.streams.setdefault(self.tracer.op if self.tracer else None, []).append(q)
            return q

        convert_stream.stream_convert = capturing

    # --- workloads ---------------------------------------------------------

    @staticmethod
    def untimed(kind: str, name: str, fn) -> tuple[bool, object, float]:
        return True, fn(), 0.0

    def convert_op(self, obj, dt_paths, name: str, schema=None, timed: bool = True,
                   readbacks: int = 0):
        """Convert ``obj``, check the output, then read it back ``readbacks``
        times and check each answer; timed, the convert and each read-back
        are timed operations of their own."""
        run = self.timed if timed else self.untimed
        dest = os.path.join(self.out_dir, f"{name}-{len(self.ops)}")
        ok, res, cpu_s = run(
            "convert", name, lambda: convert_mod.convert(self.spark, obj.path, dest, schema=schema))
        if ok:
            if timed:
                self.records += obj.records
                self.records_cpu_s += cpu_s
                self.json_bytes += obj.json_bytes
                self.parquet_bytes += checks.parquet_bytes(dest)
            self.check(f"convert {name}", checks.check_convert_result(res, obj, dt_paths))
            for _ in range(readbacks):
                ok, got, _ = run(
                    "readback", name,
                    lambda: readback(self.spark, dest, obj.time_lo, obj.time_hi,
                                     inputs.FINDINGS_EXPLODE, inputs.FINDINGS_DT_FIELD))
                if ok:
                    self.check(f"read-back {name}", checks.check_readback(
                        got, obj.readback_rows, obj.readback_max_dt_us))
        shutil.rmtree(dest, ignore_errors=True)
        return res

    def convert_feed(self, head, objs, bulk, dt_paths) -> None:
        """The first object (converted in each set-up) infers its schema,
        which is pinned through the schema registry; the small objects convert with the pinned schema,
        the bulk object with cold union inference, all in the default cluster
        mode; each bulk output is read back.  Whole passes over the feed: the
        small objects in a seeded order, then the bulk ones."""
        reg_path = os.path.join(self.work, "schema.json")

        def warm_up():
            # the converter starting up: convert the head object with the
            # schema pinned in the registry, or, while the registry is
            # empty (the first set-up), infer it and pin it
            pinned = schema_registry.load_schema(reg_path) if os.path.exists(reg_path) else None
            res = self.convert_op(head, dt_paths, "head", schema=pinned, timed=False)
            if pinned is None:
                schema_registry.save_schema(res.input_schema, reg_path)

        self.setup(warm_up)
        ok, pinned = self.guarded("load pinned schema", lambda: schema_registry.load_schema(reg_path))
        rng = random.Random(self.args.seed)
        self.settle()
        while ok and self.busy() < self.args.seconds:
            # the same mix of sizes in every pass; the seed sets the order of
            # the small ones
            for obj in rng.sample(objs, len(objs)):
                self.convert_op(obj, dt_paths, f"feed-{obj.records}", schema=pinned)
            for _ in range(BULK_PER_PASS):
                self.convert_op(bulk, dt_paths, f"bulk-{bulk.records}", readbacks=BULK_READBACKS)

    def query_mix(self, sf_dir: str) -> None:
        """Analyst queries over the fixed sf0.01 tables, each built and its
        rows collected.  A first, untimed pass in pool order checks every
        entry and warms it up; then whole timed passes of QUERY_ROUNDS
        rounds, each round in a seeded order.  Every answer is checked against the entry's DuckDB
        oracle outside the timed interval."""
        reg = registry()
        pool = [reg[name] for name in QUERY_POOL]
        self.setup(lambda: reg[QUERY_WARMUP].spark(self.spark, sf_dir)
                   .write.format("noop").mode("overwrite").save())
        t0 = time.perf_counter()
        oracle = Oracle(sf_dir)
        for spec in pool:
            self.loads.clear()
            ok, answer = self.guarded(f"verify {spec.name}", lambda: self.run_query(spec, sf_dir))
            if ok:
                self.check(f"verify {spec.name}", checks.compare_rows(*answer, *oracle.answer(spec)))
            self.rows_read[spec.name] = sum(
                pq.read_metadata(os.path.join(sf_dir, f"{t}.parquet")).num_rows for t in self.loads)
        # x28 wrote its NDJSON fixture when it first ran
        rows, json_bytes, lo, hi, expect = self.stream_expectations()
        self.verify_s = time.perf_counter() - t0
        rng = random.Random(self.args.seed)
        self.settle()
        while self.busy() < self.args.seconds:
            for spec in [e for _ in range(QUERY_ROUNDS) for e in rng.sample(pool, len(pool))]:
                ok, answer, cpu_s = self.timed("query", spec.name, lambda: self.run_query(spec, sf_dir))
                if not ok:
                    continue
                self.check(f"query {spec.name}", checks.compare_rows(*answer, *oracle.answer(spec)))
                # x28 reads its NDJSON fixture, not the catalog
                self.records += rows if spec.name == STREAM_ENTRY else self.rows_read[spec.name]
                self.records_cpu_s += cpu_s
                if spec.name != STREAM_ENTRY:
                    continue
                self.json_bytes += json_bytes
                self.parquet_bytes += checks.parquet_bytes(self.stream_dest)
                for _ in range(STREAM_READBACKS):
                    ok, got, _ = self.timed(
                        "readback", spec.name,
                        lambda: readback(self.spark, self.stream_dest, lo, hi,
                                         STREAM_EXPLODE, STREAM_DT_FIELD))
                    if ok:
                        self.check(f"read-back {spec.name}", checks.check_readback(got, *expect))

    @staticmethod
    def stream_expectations() -> tuple:
        """Rows and decompressed bytes of the streaming entry's NDJSON
        fixture, a read-back window on ``time``, and the read-back's
        expected answer."""
        fixture, fixture_bytes = inputs.ndjson_records(streaming_gate.STREAM_FIXTURE)
        times = sorted(r["time"] for r in fixture)
        lo, hi = times[len(times) * 3 // 10], times[len(times) * 7 // 10]
        expect = inputs.readback_expect(fixture, lo, hi, STREAM_EXPLODE, STREAM_DT_FIELD)
        return len(fixture), fixture_bytes, lo, hi, expect

    def run_query(self, spec, sf_dir: str) -> tuple:
        """Build the entry and collect its rows: (columns, rows)."""
        tr = self.tracer
        with tr.span(f"queries.build.{spec.name}") if tr else contextlib.nullcontext():
            df = spec.spark(self.spark, sf_dir)
        with tr.span(f"queries.exec.{spec.name}") if tr else contextlib.nullcontext():
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    # --- results -----------------------------------------------------------

    def end_to_end(self, rss_mb: float) -> dict:
        done = [op for op in self.ops if op["ok"] and op["kind"] in ("convert", "query")]
        rb = [op for op in self.ops if op["ok"] and op["kind"] == "readback"]
        if not done or not rb or not self.records:
            raise SystemExit("perfbench: no timed operation succeeded; nothing to report")
        print("ops wall_s/cpu_s: " + " ".join(
            f"{op['name']}:{op['kind'][0]}={op['seconds']:.2f}/{op['cpu_s']:.2f}" for op in self.ops),
              flush=True)
        lat = [op["cpu_s"] for op in done]
        # printed, not a metric: with under 100 samples the tail is the
        # maximum, a single operation, which spread by up to a fifth of its
        # median between runs
        tail, pct, beyond = stats.tail(lat)
        print(f"operation samples={len(lat)} tail=p{pct:g} ({beyond} beyond) "
              f"op_cpu_tail_s={tail:.3f}; read-back samples={len(rb)}", flush=True)
        # wall-clock figures, for reading only: on a shared host they move
        # with the neighbours' load, so no metric is made of them
        wall = [op["seconds"] for op in done]
        print("wall-clock: " + json.dumps({
            "setup_s": statistics.median(self.setups_wall),
            "latency_p50_s": statistics.median(wall),
            "latency_tail_s": stats.tail(wall)[0],
            "ops_per_s": len(wall) / sum(wall),
            "readback_s": statistics.median(op["seconds"] for op in rb),
        }), flush=True)
        m = {
            "setup_s": statistics.median(self.setups),
            "op_cpu_p50_s": statistics.median(lat),
            "ops_per_cpu_s": len(lat) / sum(lat),
            "records_per_cpu_s": self.records / self.records_cpu_s,
            "readback_cpu_s": statistics.median(op["cpu_s"] for op in rb),
            "parquet_bytes_per_json_byte": self.parquet_bytes / self.json_bytes,
            "peak_rss_mb": rss_mb,
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=("convert_feed", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--root", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()

    t0 = time.perf_counter()
    run = Run(args)
    if args.workload == "convert_feed":
        objs = inputs.feed_objects(args.root, args.seed)
        dt_paths = inputs.load_fixture(args.root).DT_PATHS
    t_inputs = time.perf_counter() - t0
    if args.workload == "query_mix":
        run.record_loads()
    if run.tracer is not None:
        registry()  # import every query module before patching their bindings
        run.install_tracing()
    run.capture_streams()

    if args.workload == "convert_feed":
        run.convert_feed(*objs, dt_paths)
    else:
        run.query_mix(os.path.join(args.root, "perfbench", "data", "sf0.01"))

    jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = peak_rss_mb(jvm_pid)
    run.spark.stop()
    print("phases_s: " + json.dumps({
        "inputs": t_inputs, "setups": run.setups_wall, "setups_cpu": run.setups, "verify": run.verify_s, "timed": run.busy(),
        "total": time.perf_counter() - t0}), flush=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.end_to_end(rss),
    }
    print(f"error_rate={run.failed / max(run.attempted, 1):.4f} "
          f"({run.failed} failed of {run.attempted} checked operations)", flush=True)
    results = os.path.join(args.root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(result, f)
    if run.tracer is not None:
        run.tracer.uninstall()
        result = layers.traced_result(run, result, QUERY_POOL, args.root)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
