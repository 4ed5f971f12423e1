"""Correctness checks the benchmark applies to every operation's output.

The checks read the written Parquet with pyarrow, not with Spark, so a
defect in the engine cannot also hide itself from the check.  Each check
returns a list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from inputs import CHECKSUM_FIELDS, NdjsonObject, row_hash

# the engine's default sort column, which every converted output must honour
SORT_COLUMN = "time"


def parquet_files(dest: str) -> list[str]:
    return sorted(glob.glob(os.path.join(dest, "**", "*.parquet"), recursive=True))


def parquet_bytes(dest: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(dest))


def _type_at(schema: pa.Schema, dotted: str) -> pa.DataType | None:
    """Arrow type at a dotted path such as ``a[].b.c_dt`` (``[]`` steps into
    a list's elements); None when the path does not exist."""
    typ: pa.DataType = pa.struct(list(schema))
    for part in dotted.split("."):
        name, is_list = (part[:-2], True) if part.endswith("[]") else (part, False)
        if not pa.types.is_struct(typ) or typ.get_field_index(name) < 0:
            return None
        typ = typ.field(name).type
        if is_list:
            if not pa.types.is_list(typ):
                return None
            typ = typ.value_type
    return typ


def _column(table: pa.Table, path: tuple) -> list:
    col = table.column(path[0]).combine_chunks()
    for key in path[1:]:
        col = col.field(key)
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    return col.to_pylist()


def check_convert_output(dest: str, obj: NdjsonObject, dt_paths: list[str]) -> list[str]:
    """The converted files of ``obj`` under ``dest``: every ``_dt`` path is a
    microsecond timestamp, each file is sorted on ``SORT_COLUMN``, the
    files' ranges do not overlap, and the rows match the generated records
    (count and order-insensitive checksum)."""
    files = parquet_files(dest)
    if not files:
        return [f"no parquet files under {dest}"]
    problems: list[str] = []
    rows, checksum, ranges = 0, 0, []
    top_cols = sorted({p[0] for p in CHECKSUM_FIELDS} | {SORT_COLUMN})
    for f in files:
        schema = pq.read_schema(f)
        for p in dt_paths:
            typ = _type_at(schema, p)
            if typ is None or not pa.types.is_timestamp(typ) or typ.unit != "us":
                problems.append(f"{os.path.basename(f)}: {p} is {typ}, want timestamp[us]")
        if problems:
            return problems
        table = pq.read_table(f, columns=top_cols)
        keys = _column(table, (SORT_COLUMN,))
        if any(a > b for a, b in zip(keys, keys[1:])):
            problems.append(f"{os.path.basename(f)} is not sorted on {SORT_COLUMN}")
        if keys:
            ranges.append((keys[0], keys[-1], os.path.basename(f)))
        cols = [_column(table, path) for path in CHECKSUM_FIELDS]
        checksum += sum(row_hash(t) for t in zip(*cols))
        rows += table.num_rows
    ranges.sort()
    for (_, hi, a), (lo, _, b) in zip(ranges, ranges[1:]):
        if not hi < lo:
            problems.append(f"{a} and {b} overlap on {SORT_COLUMN}")
    if rows != obj.records:
        problems.append(f"{rows} rows written, {obj.records} generated")
    elif checksum % (1 << 64) != obj.checksum:
        problems.append("row checksum differs from the generated records")
    return problems


def check_convert_result(result, obj: NdjsonObject, dt_paths: list[str]) -> list[str]:
    """The lineage record ``convert`` returned, then the files it wrote."""
    problems = []
    if result.rows != obj.records:
        problems.append(f"ConvertResult.rows={result.rows}, generated {obj.records}")
    if sorted(result.rewritten_dt_paths) != sorted(dt_paths):
        problems.append(f"rewritten_dt_paths={sorted(result.rewritten_dt_paths)}")
    return problems + check_convert_output(result.output_path, obj, dt_paths)


def check_readback(got: tuple, rows: int, max_dt_us: int | None) -> list[str]:
    if tuple(got) != (rows, max_dt_us):
        return [f"read-back gave {tuple(got)}, want {(rows, max_dt_us)}"]
    return []


def _canon(v) -> str:
    # the oracle-parity tests' canonical form: full-precision floats
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return f"b:{v}"
    return repr(v)


def compare_rows(spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    """Order-insensitive equality of a query's rows and its DuckDB oracle's,
    with columns matched by name."""
    if sorted(spark_cols) != sorted(duck_cols):
        return [f"columns {sorted(spark_cols)} != oracle {sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"{len(spark_rows)} rows, oracle has {len(duck_rows)}"]

    def rowset(cols, rows):
        idx = [list(cols).index(c) for c in sorted(cols)]
        return sorted("|".join(_canon(r[i]) for i in idx) for r in rows)

    a, b = rowset(spark_cols, spark_rows), rowset(duck_cols, duck_rows)
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return [f"{len(bad)} rows differ from the oracle, first {bad[0]}"] if bad else []
