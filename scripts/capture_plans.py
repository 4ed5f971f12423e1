"""Capture normalised `.explain("formatted")` plans for named registry
entries into plans/<subdir>/<query>_<tag>.txt.

Usage: python scripts/capture_plans.py <subdir> <tag> <names...>
  e.g. python scripts/capture_plans.py r16 before x21_ivf_ann x49_kmeans

Tables come from $SPARK_GRAFT_SF_DIR (bench.py's default).  Session
counters are stripped: expression ids (``#123``, ``#123L``), numeric
name suffixes (``x_17``, the fresh lambda-variable names), exchange
``plan_id=`` numbers, and checkpointed RDD ids with their call sites.
So a ``before`` capture on one checkout and an ``after`` capture on
another diff byte-for-byte when the plans are the same.  An absolute
<subdir> writes there instead of under plans/.

Note: for queries whose fn performs side-effect actions (store builds,
streaming drains), the captured plan is the RETURNED frame's plan — the
part the noop sink times after the fn's internal actions complete.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

NORMALISE = (
    (r"#\d+L?", ""),
    (r"_\d+\b", ""),
    (r"plan_id=\d+", "plan_id="),
    (r"RDD\[\d+\] at (\w+) at [^\s,]+", r"RDD[] at \1"),
)


def normalise(plan: str) -> str:
    for pat, rep in NORMALISE:
        plan = re.sub(pat, rep, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    subdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    from bench import SF_DIR
    from json_to_parquet_spark.queries import registry
    from json_to_parquet_spark.session import build_session

    spark = build_session(app_name=f"plans_{tag}")
    reg = registry()
    out_dir = os.path.join(ROOT, "plans", subdir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = reg[name].spark(spark, SF_DIR)
        plan = normalise(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", file=sys.stderr)


if __name__ == "__main__":
    main()
