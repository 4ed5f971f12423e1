"""Self-tests of the benchmark's own arithmetic and checks (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import cpu
import inputs
import layers
import stats
import tracing
import worker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- CPU time --------------------------------------------------------------

def test_cpu_since_leaves_out_jit_threads():
    tick = 1.0 / cpu.CLK_TCK
    before = (1000, {(7, 8): 50, (7, 9): 20})
    # thread 9 ended; thread 10 started: all its ticks are JIT time
    after = (1300, {(7, 8): 80, (7, 10): 40})
    assert cpu.cpu_s_since(before, after) == pytest.approx((300 - 30 - 40) * tick)


def test_snapshot_counts_this_process():
    sid = os.getsid(0)
    before = cpu.snapshot(sid)
    end = os.times().user + 0.3
    while os.times().user < end:
        pass
    assert cpu.cpu_s_since(before, cpu.snapshot(sid)) >= 0.25


# --- tail percentile -------------------------------------------------------

def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = list(range(1, 101))
    random.Random(0).shuffle(xs)
    assert stats.tail(xs) == (90, 90.0, 10)
    assert stats.tail(range(1, 201)) == (190, 95.0, 10)
    assert stats.tail(range(1, 1001)) == (990, 99.0, 10)


def test_tail_falls_back_to_max_below_p90():
    # 99 samples: the rank with ten beyond is p89.9, under the p90 floor
    assert stats.tail(range(1, 100)) == (99, 100.0, 0)
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail([5.0]) == (5.0, 100.0, 0)


# --- span self time --------------------------------------------------------

def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),    # overlaps 2 (another thread): union is 1..5
        _span(4, 2, 1.5, 2.0),    # grandchild: only its parent loses it
        _span(5, 1, 9.0, 12.0),   # runs past its parent: clipped to 9..10
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(3.0)


def test_tracer_nests_spans_and_counts_calls():
    tr = tracing.Tracer()

    class Client:
        def send_command(self, cmd):
            return cmd

    class Layer:
        @staticmethod
        def call(client):
            return client.send_command("a") + client.send_command("b")

    tr.count_py4j(Client)
    tr.wrap(Layer, "call", "layer.call")
    with tr.span("op"):
        assert Layer.call(Client()) == "ab"
    tr.uninstall()
    assert Layer.call(Client()) == "ab" and len(tr.spans) == 2
    op, call = sorted(tr.spans, key=lambda s: s["start"])
    assert call["parent"] == op["id"] and call["py4j_calls"] == 2
    assert tr.py4j_calls == 2


# --- output checks ---------------------------------------------------------

def _to_output(value, key=""):
    """What a correct convert writes for a generated value: ``_dt`` strings
    become UTC timestamps, recursively."""
    if isinstance(value, dict):
        return {k: _to_output(v, k) for k, v in value.items()}
    if isinstance(value, list):
        return [_to_output(v) for v in value]
    if key.endswith("_dt"):
        return datetime.fromisoformat(value.replace("Z", "+00:00"))
    return value


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    cache = str(tmp_path_factory.mktemp("inputs"))
    (obj,) = inputs.make_objects(ROOT, cache, 3, [("t", 1000, 300)], pool=None)
    records, _ = inputs.ndjson_records(obj.path)
    fixture = inputs.load_fixture(ROOT)
    return obj, sorted(records, key=lambda r: r["time"]), fixture.DT_PATHS


def _write(dest, record_groups, convert_dt=True):
    os.makedirs(dest, exist_ok=True)
    for k, group in enumerate(record_groups):
        rows = [_to_output(r) if convert_dt else r for r in group]
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(dest, f"part-{k}.parquet"))
    return str(dest)


def test_check_accepts_a_correct_output(generated, tmp_path):
    obj, recs, dt_paths = generated
    dest = _write(tmp_path / "ok", [recs[:100], recs[100:]])
    assert checks.check_convert_output(dest, obj, dt_paths) == []


def test_check_flags_unsorted_file(generated, tmp_path):
    obj, recs, dt_paths = generated
    dest = _write(tmp_path / "unsorted", [recs[:100], list(reversed(recs[100:]))])
    assert any("not sorted" in p for p in checks.check_convert_output(dest, obj, dt_paths))


def test_check_flags_overlapping_files(generated, tmp_path):
    obj, recs, dt_paths = generated
    dest = _write(tmp_path / "overlap", [recs[0::2], recs[1::2]])
    assert any("overlap" in p for p in checks.check_convert_output(dest, obj, dt_paths))


def test_check_flags_missing_rows(generated, tmp_path):
    obj, recs, dt_paths = generated
    dest = _write(tmp_path / "short", [recs[:-1]])
    assert any("rows written" in p for p in checks.check_convert_output(dest, obj, dt_paths))


def test_check_flags_changed_values(generated, tmp_path):
    obj, recs, dt_paths = generated
    changed = [dict(r) for r in recs]
    changed[7]["message"] = "tampered"
    dest = _write(tmp_path / "changed", [changed])
    assert any("checksum" in p for p in checks.check_convert_output(dest, obj, dt_paths))


def test_check_flags_unconverted_dt_strings(generated, tmp_path):
    obj, recs, dt_paths = generated
    dest = _write(tmp_path / "strings", [recs], convert_dt=False)
    problems = checks.check_convert_output(dest, obj, dt_paths)
    assert any("time_dt is string" in p for p in problems)


def test_readback_expectation_matches_a_direct_count(generated):
    obj, recs, _ = generated
    rows, mx = inputs.readback_expect(recs, obj.time_lo, obj.time_hi,
                                      inputs.FINDINGS_EXPLODE, inputs.FINDINGS_DT_FIELD)
    inside = [r for r in recs if obj.time_lo <= r["time"] < obj.time_hi]
    events = [e for r in inside for f in r["finding_info_list"] for e in f["related_events"]]
    assert (rows, mx) == (obj.readback_rows, obj.readback_max_dt_us) == (
        len(events), max(inputs.iso_to_us(e["modified_time_dt"]) for e in events))


def test_compare_rows_ignores_order_but_not_values():
    assert checks.compare_rows(["a", "b"], [(1, 2.5), (3, 4.0)], ["b", "a"], [(4.0, 3), (2.5, 1)]) == []
    assert checks.compare_rows(["a"], [(1,)], ["a"], [(1,), (1,)])
    assert checks.compare_rows(["a"], [(0.1 + 0.2,)], ["a"], [(0.3,)])


def test_benchmark_json_names_what_the_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == worker.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        name: layers.unit_of(name) for name in layers.metric_names(worker.QUERY_POOL)}
