"""End-to-end convert pipeline parity tests (FIXTURES.md §A assertions):
timestamps at every ``_dt`` site and nowhere else; rows sorted by ``time``;
sorted and shuffled inputs produce identical output; heterogeneous sibling
structs infer as the key-union with nulls; sort skipped when column absent."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from json_to_parquet_spark.operators.convert import convert, derive_output_name
from tests.findings_fixture import DT_PATHS, write_fixture


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("findings")
    return write_fixture(str(d), n=300)


def _collect_sorted(spark, path):
    df = spark.read.parquet(path)
    return df.orderBy("time").collect(), df


def test_convert_end_to_end(spark, fixture_paths, tmp_path):
    sorted_path, shuffled_path = fixture_paths
    res = convert(spark, shuffled_path, str(tmp_path / "out"), mode="global")
    assert res.rows == 300
    assert res.sorted_by == "time"
    assert sorted(res.rewritten_dt_paths) == DT_PATHS

    out = spark.read.parquet(str(tmp_path / "out"))
    # every _dt site is a timestamp and no string *_dt remains
    from tests.test_dt_rewrite import _ts_sites

    assert sorted(_ts_sites(out.schema)) == DT_PATHS
    # globally sorted ascending by time
    times = [r.time for r in out.select("time").collect()]
    assert times == sorted(times)


def test_sorted_and_shuffled_inputs_identical_output(spark, fixture_paths, tmp_path):
    sorted_path, shuffled_path = fixture_paths
    convert(spark, sorted_path, str(tmp_path / "a"), mode="global")
    convert(spark, shuffled_path, str(tmp_path / "b"), mode="global")
    rows_a, _ = _collect_sorted(spark, str(tmp_path / "a"))
    rows_b, _ = _collect_sorted(spark, str(tmp_path / "b"))
    assert rows_a == rows_b


def test_cluster_mode_range_partitioned(spark, fixture_paths, tmp_path):
    """Scale path: per-file sorted, file ranges non-overlapping on `time`."""
    _, shuffled_path = fixture_paths
    res = convert(spark, shuffled_path, str(tmp_path / "c"), mode="cluster")
    assert res.rows == 300
    pieces = []
    import glob

    for f in sorted(glob.glob(str(tmp_path / "c" / "*.parquet"))):
        t = pq.read_table(f, columns=["time"])["time"].to_pylist()
        assert t == sorted(t)  # sorted within each file
        if t:
            pieces.append((min(t), max(t)))
    pieces.sort()
    for (_, hi), (lo, _) in zip(pieces, pieces[1:]):
        assert hi <= lo  # file ranges don't overlap → min/max pruning works


def test_sort_skipped_when_column_absent(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    res = convert(spark, df, str(tmp_path / "nosort"), sort_column="missing")
    assert res.sorted_by is None
    assert res.rows == 2


def test_zstd_compression_and_no_int96(spark, fixture_paths, tmp_path):
    _, shuffled_path = fixture_paths
    convert(spark, shuffled_path, str(tmp_path / "z"), mode="global")
    import glob

    f = glob.glob(str(tmp_path / "z" / "*.parquet"))[0]
    meta = pq.ParquetFile(f).metadata
    assert meta.row_group(0).column(0).compression.lower() == "zstd"
    sch = pq.read_schema(f)
    assert "INT96" not in str(sch)  # TIMESTAMP_MICROS, not deprecated INT96


def test_output_naming_rule():
    # full key path is kept (reference pyarrow/main.py:120-121): distinct
    # prefixes must not collide at the same output name
    assert derive_output_name("foo/bar.ndjson.gz") == "foo/bar.zst.parquet"
    assert derive_output_name("a/data.ndjson.gz") != derive_output_name(
        "b/data.ndjson.gz"
    )
    assert derive_output_name("x.ndjson.gz", "gzip") == "x.gz.parquet"
    with pytest.raises(ValueError):
        derive_output_name("x.ndjson.gz", "lz4")


def test_partitioned_sink(spark, fixture_paths, tmp_path):
    """partition_by writes hive layout; every partition dir's rows are
    sorted by the sort column; totals and _dt rewrite are unaffected."""
    import glob
    import os

    _, shuffled_path = fixture_paths
    dest = str(tmp_path / "out_part")
    res = convert(
        spark, shuffled_path, dest, mode="cluster", partition_by=["severity"]
    )
    assert res.rows == 300
    dirs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(dest, "severity=*"))
    )
    assert dirs and all(d.startswith("severity=") for d in dirs)

    back = spark.read.parquet(dest)
    assert back.count() == 300
    assert dict(back.groupBy().count().collect()[0].asDict()) == {"count": 300}
    for d in glob.glob(os.path.join(dest, "severity=*")):
        for f in glob.glob(os.path.join(d, "*.parquet")):
            times = pq.read_table(f, columns=["time"]).column("time").to_pylist()
            assert times == sorted(times), f

    with pytest.raises(ValueError):
        convert(spark, shuffled_path, dest, mode="global", partition_by=["severity"])


def test_multi_file_input_keeps_native_parallelism(spark, tmp_path):
    """read_ndjson_parallel must NOT inject a repartition when the input is
    already parallel (many objects) — the at-scale shape."""
    import gzip
    import json

    from json_to_parquet_spark.sources.ndjson import read_ndjson_parallel

    d = tmp_path / "many"
    d.mkdir()
    for i in range(6):
        with gzip.open(d / f"f{i}.ndjson.gz", "wt") as f:
            for j in range(10):
                f.write(json.dumps({"time": i * 100 + j}) + "\n")
    df = read_ndjson_parallel(spark, str(d), min_partitions=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # already-parallel input uses the native file scan (pushdown-capable),
    # no injected repartition
    assert "RoundRobinPartitioning" not in plan
    assert "FileScan json" in plan
    assert df.count() == 60

    # single local gz object → SPILL to a splittable temp file and use the
    # native scan (pushdown-capable; maxPartitionBytes splits real sizes)
    import os
    import shutil

    single = read_ndjson_parallel(spark, str(d / "f0.ndjson.gz"), min_partitions=4)
    spill_dir = getattr(single, "_graft_spill_dir", None)
    assert spill_dir is not None and os.path.isdir(spill_dir)
    plan1 = single._jdf.queryExecution().executedPlan().toString()
    assert "FileScan json" in plan1
    assert "RoundRobinPartitioning" not in plan1
    assert single.count() == 10
    shutil.rmtree(spill_dir, ignore_errors=True)

    # remote/no-spill fallback: round-robin the raw lines; inference and
    # parse run over the cached line frame (>= target partitions)
    fallback = read_ndjson_parallel(
        spark, str(d / "f0.ndjson.gz"), min_partitions=4, spill=False
    )
    assert fallback.rdd.getNumPartitions() >= 4
    assert fallback.count() == 10
    cache = getattr(fallback, "_graft_text_cache", None)
    if cache is not None:
        cache.unpersist()


def test_sampling_ratio_inference(spark, tmp_path):
    """Opt-in sampled inference: on a structurally homogeneous feed the
    sampled schema equals the full-union schema (and the parse is
    unchanged); the option must be ignored when a schema is pinned."""
    import gzip
    import json as _json

    from json_to_parquet_spark.sources.ndjson import read_ndjson

    p = str(tmp_path / "h.ndjson.gz")
    with gzip.open(p, "wt") as f:
        for i in range(2000):
            f.write(_json.dumps({"a": i, "b": f"s{i}", "c": i / 2.0}) + "\n")
    full = read_ndjson(spark, p)
    sampled = read_ndjson(spark, p, sampling_ratio=0.05)
    assert sampled.schema == full.schema
    assert sampled.count() == 2000  # sampling affects inference, not rows


def test_cluster_sort_on_column_with_nested_dt_site(spark, tmp_path):
    """A sort column that holds a ``_dt`` site only inside an array must be
    rewritten before it is sorted: by ISO string id 1 sorts first, by
    instant (06:00Z against 10:00+05:00 = 05:00Z) id 2 does."""
    import glob
    import gzip
    import json

    src = str(tmp_path / "items.ndjson.gz")
    with gzip.open(src, "wt") as f:
        f.write(json.dumps({"id": 1, "items": [{"t_dt": "2025-01-01T06:00:00Z"}]}) + "\n")
        f.write(json.dumps({"id": 2, "items": [{"t_dt": "2025-01-01T10:00:00+05:00"}]}) + "\n")
    for mode in ("cluster", "global"):
        dest = str(tmp_path / mode)
        res = convert(spark, src, dest, sort_column="items", mode=mode)
        assert res.sorted_by == "items"
        assert res.rewritten_dt_paths == ["items[].t_dt"]
        ids = [
            i
            for part in sorted(glob.glob(dest + "/*.parquet"))
            for i in pq.read_table(part, columns=["id"])["id"].to_pylist()
        ]
        assert ids == [2, 1], mode
