"""Seeded NDJSON inputs for the convert workloads.

Every object is a gzipped NDJSON file of findings records made by the
repository's own fixture generator (``tests/findings_fixture.make_record``:
4-level nesting, heterogeneous siblings, six ``_dt`` sites).  Objects are
written before any clock starts and cached under ``.perfbench/inputs`` by
(seed, size, first record id), so the program only ever receives a path.

Alongside each object a JSON sidecar holds what the checks need to judge
the converted output without trusting the program: the record count, an
order-insensitive checksum, and the expected answer of the read-back query.
"""

from __future__ import annotations

import gzip
import hashlib
import importlib.util
import json
import multiprocessing
import os
import random
import sys
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta, timezone

# convert_feed: one small object per size and one bulk object.  Fixed
# sizes (not a random draw) keep every run's amount of work the same, so a
# seed changes contents, record ids and order but not the work; equal
# sizes make the median conversion a like-for-like sample.
FEED_SIZES = (2000, 2000, 2000, 2000)
BULK_RECORDS = 20_000
# the feed's first object: converted with inference, its schema pinned
FEED_FIRST_SIZE = 500
GZIP_LEVEL = 6
_CHUNK = 5000

# Read-back over the findings output: records in the middle of the id range,
# exploded to every related event and its ``_dt`` timestamp.
FINDINGS_EXPLODE = ("finding_info_list", "related_events")
FINDINGS_DT_FIELD = "modified_time_dt"
# Fields of the order-insensitive row checksum, as paths into a record.
CHECKSUM_FIELDS = (("time",), ("message",), ("time_dt",), ("metadata", "product", "my_dt"))
_UNIX_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


@dataclass(frozen=True)
class NdjsonObject:
    path: str
    records: int
    json_bytes: int  # decompressed NDJSON size
    checksum: int
    time_lo: int  # read-back window on ``time``, [lo, hi)
    time_hi: int
    readback_rows: int
    readback_max_dt_us: int | None


def iso_to_us(s: str) -> int:
    """Epoch microseconds of an ISO-8601 UTC string such as the fixture's
    ``2025-01-01T00:00:00.000Z``."""
    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    return (dt - _UNIX_EPOCH) // timedelta(microseconds=1)


def row_hash(values: tuple) -> int:
    """64-bit hash of one record's checksum tuple; the checksum of a set of
    records is the sum of these modulo 2**64, so row order does not matter."""
    digest = hashlib.blake2b(repr(values).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little")


def _dig(rec: dict, path: tuple):
    for key in path:
        rec = rec[key]
    return rec


def checksum_tuple(rec: dict) -> tuple:
    """The checksum tuple of a generated record: ``_dt`` strings become epoch
    microseconds, which is what the converted output must hold."""
    out = []
    for path in CHECKSUM_FIELDS:
        v = _dig(rec, path)
        out.append(iso_to_us(v) if path[-1].endswith("_dt") else v)
    return tuple(out)


def readback_expect(records, lo: int, hi: int, explode: tuple, dt_field: str):
    """Expected (rows, max ``dt_field`` in epoch us) of the read-back query:
    keep records with ``lo <= time < hi``, explode the nested arrays on the
    ``explode`` path, and look at ``dt_field`` of the innermost elements."""
    rows, mx = 0, None
    for rec in records:
        if not lo <= rec["time"] < hi:
            continue
        level = [rec]  # a missing or empty array yields no rows, as in explode
        for key in explode:
            level = [e for parent in level for e in (parent.get(key) or [])]
        for e in level:
            rows += 1
            us = iso_to_us(e[dt_field])
            mx = us if mx is None or us > mx else mx
    return rows, mx


def load_fixture(root: str):
    path = os.path.join(root, "tests", "findings_fixture.py")
    spec = importlib.util.spec_from_file_location("findings_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _render_chunk(args):
    """Records [first, first+n) from their own seeded stream, shuffled.
    Runs in a pool worker: returns NDJSON bytes plus partial sums."""
    root, rng_seed, first, n, lo, hi = args
    fixture = load_fixture(root)
    rng = random.Random(rng_seed)
    records = [fixture.make_record(i, rng) for i in range(first, first + n)]
    rng.shuffle(records)
    checksum = sum(row_hash(checksum_tuple(r)) for r in records) % (1 << 64)
    rows, mx = readback_expect(records, lo, hi, FINDINGS_EXPLODE, FINDINGS_DT_FIELD)
    data = "".join(json.dumps(r) + "\n" for r in records).encode()
    return data, checksum, rows, mx


def _readback_window(fixture, first: int, n: int) -> tuple[int, int]:
    """``time`` bounds [lo, hi) around the middle 40% of ids ``first..``;
    make_record's ``time`` is EPOCH + id seconds, in epoch milliseconds."""
    base = int(fixture.EPOCH.timestamp() * 1000)
    return base + (first + 3 * n // 10) * 1000, base + (first + 7 * n // 10) * 1000


def make_objects(root: str, cache_dir: str, seed: int, specs: list[tuple], pool) -> list[NdjsonObject]:
    """Write (or reuse from the cache) one gzipped NDJSON object per
    ``(tag, first, n)`` in ``specs``: ``n`` records with ids
    ``first..first+n-1``.  All missing objects' chunks go to ``pool`` at
    once."""
    fixture = load_fixture(root)
    objs: list[NdjsonObject | None] = []
    jobs, owner = [], []
    for k, (tag, first, n) in enumerate(specs):
        meta_path = os.path.join(cache_dir, f"{tag}-s{seed}-i{first}-n{n}.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                objs.append(NdjsonObject(**json.load(f)))
            continue
        objs.append(None)
        window = _readback_window(fixture, first, n)
        for start in range(first, first + n, _CHUNK):
            jobs.append((root, seed * 1_000_003 + start, start, min(_CHUNK, first + n - start), *window))
            owner.append(k)
    parts = list((pool.map if pool is not None else map)(_render_chunk, jobs))
    os.makedirs(cache_dir, exist_ok=True)
    for k, (tag, first, n) in enumerate(specs):
        if objs[k] is not None:
            continue
        mine = [p for p, o in zip(parts, owner) if o == k]
        stem = os.path.join(cache_dir, f"{tag}-s{seed}-i{first}-n{n}")
        data = b"".join(p[0] for p in mine)
        maxes = [p[3] for p in mine if p[3] is not None]
        lo, hi = _readback_window(fixture, first, n)
        obj = NdjsonObject(
            path=stem + ".ndjson.gz",
            records=n,
            json_bytes=len(data),
            checksum=sum(p[1] for p in mine) % (1 << 64),
            time_lo=lo,
            time_hi=hi,
            readback_rows=sum(p[2] for p in mine),
            readback_max_dt_us=max(maxes) if maxes else None,
        )
        # data first, then the sidecar that marks the object complete
        _write_atomic(obj.path, gzip.compress(data, compresslevel=GZIP_LEVEL))
        _write_atomic(stem + ".json", json.dumps(asdict(obj)).encode())
        objs[k] = obj
    return objs


def _write_atomic(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def feed_objects(root: str, seed: int, pool=None) -> tuple[NdjsonObject, list[NdjsonObject], NdjsonObject]:
    """convert_feed's inputs, generated on first use (with ``pool``, if
    given) and read from the cache after that: the first (inferred) object,
    one object per ``FEED_SIZES`` entry in a seeded order, and the bulk
    object, all with consecutive record ids from a seeded start."""
    sizes = list(FEED_SIZES)
    random.Random(seed).shuffle(sizes)
    nxt = random.Random(seed * 7919 + 1).randrange(0, 50_000_000, 1000)
    specs = []
    for tag, n in [("head", FEED_FIRST_SIZE)] + [("feed", n) for n in sizes] + [("bulk", BULK_RECORDS)]:
        specs.append((tag, nxt, n))
        nxt += n
    head, *objs, bulk = make_objects(root, os.path.join(root, ".perfbench", "inputs"), seed, specs, pool)
    return head, objs, bulk


def ndjson_records(path: str) -> tuple[list[dict], int]:
    """The records of a gzipped NDJSON file and its decompressed size."""
    with gzip.open(path, "rb") as f:
        data = f.read()
    return [json.loads(line) for line in data.splitlines() if line.strip()], len(data)


if __name__ == "__main__":
    # python3 inputs.py ROOT SEED: generate convert_feed's inputs for SEED
    # into the cache, on one spawned worker per CPU (at most four).
    root_dir, seed_arg = sys.argv[1], int(sys.argv[2])
    workers = min(4, len(os.sched_getaffinity(0)))
    with multiprocessing.get_context("spawn").Pool(workers) as pool:
        feed_objects(root_dir, seed_arg, pool)
