"""Bench a SUBSET of entries with bench.py's exact methodology (same
session conf, same noop sink, same warm-up + min-of-N + convergence
guard) so before/after deltas are comparable.

Usage: python scripts/bench_subset.py x261_drift_reindex_io x247_...
Prints one JSON line {name: min_sec, ...} plus raws to stderr.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (reuses _timed and SF_DIR)
from json_to_parquet_spark.queries import registry  # noqa: E402
from json_to_parquet_spark.session import build_session  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    spark = build_session(app_name="bench_subset")
    reg = registry()
    out = {}
    for name in names:
        fn = reg[name].spark
        raws = bench._timed(
            lambda: fn(spark, bench.SF_DIR)
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        out[name] = min(raws)
        print(f"{name}: {raws}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
