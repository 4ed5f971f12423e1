"""The ``_dt`` convention rewriter — the engine's one genuinely custom piece.

Reference semantics (SURVEY §1.3; reference pyarrow/main.py:172-279): every
STRING field whose name ends in ``_dt`` — at any nesting depth: top level,
inside structs, inside arrays of structs, recursively — is an ISO8601 string
and must become a UTC timestamp. Non-``_dt`` fields are untouched. The
pandas path of the reference (pandas/main.py:179-194) misses ``_dt`` fields
inside arrays-of-structs; we adopt the PyArrow path's full recursion.

Error handling: the reference diverges (PyArrow strict / pandas coerce-to-
null; SURVEY §1.3.3). Default is strict (raise on a non-null unparseable
string), with ``mode="coerce"`` for null-on-failure.

Spark-first design: this is NOT a row-level transformation. It is a
compile step ``StructType -> list[Column]`` executed once on the driver,
in two parts. First a plain walk over the Python ``StructType`` finds the
``_dt`` sites and prunes the type down to the paths that lead to them;
it builds no Column and makes no py4j call, so ``dt_rewrite_paths`` and
``dt_site_columns`` cost nothing on the JVM side, and a frame with no
site is returned untouched. Then Columns are built once, only along the
pruned paths: every Column call is a py4j round trip, so fields without a
site are never visited (a strict compile of the findings fixture schema
makes ~900 calls). The emitted expression tree uses only JVM-side
primitives — ``to_timestamp`` / ``try_to_timestamp``, ``Column.withField``
(preserves struct nullness, unlike rebuilding with ``F.struct``), and the
higher-order ``F.transform`` for arrays and map values — so the whole
rewrite stays inside whole-stage codegen and Catalyst is free to
prune/reorder around it. No UDFs, no Python in the hot path, no
driver-side data movement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DT_SUFFIX = "_dt"


def _is_dt_name(name: str) -> bool:
    return name.endswith(DT_SUFFIX)


def _cast_string_to_ts(col: Column, name: str, mode: str) -> Column:
    """string -> timestamp with strict/coerce error semantics.

    ``try_to_timestamp`` yields NULL on parse failure; strict mode turns a
    (non-null input, null output) pair into a raised error, matching the
    reference's PyArrow path which raises on non-ISO8601 input.
    """
    parsed = F.try_to_timestamp(col)
    if mode == "coerce":
        return parsed
    return F.when(
        col.isNotNull() & parsed.isNull(),
        F.raise_error(
            F.concat(
                F.lit(f"dt_rewrite: unparseable timestamp in field '{name}': '"),
                col,
                F.lit("'"),
            ).cast(T.StringType()),
        ).cast(T.TimestampType()),
    ).otherwise(parsed)


def _site_type(dtype: T.DataType, name: str) -> T.DataType | None:
    """``dtype`` pruned to the subtrees that hold a ``_dt`` site, or None.

    A plain walk over the Python type objects: it builds no Column and
    makes no py4j call. The pruned type keeps only what the Column
    compile needs — the site strings, the structs on the way to them and
    the arrays/maps that contain them — so the compile touches nothing
    else.
    """
    if isinstance(dtype, T.StringType):
        return dtype if _is_dt_name(name) else None

    if isinstance(dtype, T.StructType):
        fields = []
        for field in dtype.fields:
            site = _site_type(field.dataType, field.name)
            if site is not None:
                fields.append(T.StructField(field.name, site))
        return T.StructType(fields) if fields else None

    if isinstance(dtype, T.ArrayType):
        # Elements carry no field name of their own: the reference's list
        # path (pyarrow/main.py:258-279) recurses only into list<struct>
        # and passes list<string> through unchanged — so an array field
        # named '*_dt' must NOT have its string elements cast. Recursing
        # with an empty name reproduces exactly that: only named struct
        # fields inside the element can match the _dt rule.
        element = _site_type(dtype.elementType, "")
        return None if element is None else T.ArrayType(element)

    if isinstance(dtype, T.MapType):
        # Map values may contain structs with _dt fields. Same rule as
        # arrays: the value slot is anonymous, so a map field named
        # '*_dt' does not cast plain string values.
        value = _site_type(dtype.valueType, "")
        return None if value is None else T.MapType(dtype.keyType, value)

    return None


def _site_paths(site: T.DataType, path: str) -> list[str]:
    """The dotted paths of the string sites in a pruned ``site`` type."""
    if isinstance(site, T.StructType):
        return [p for f in site.fields for p in _site_paths(f.dataType, f"{path}.{f.name}")]
    if isinstance(site, T.ArrayType):
        return _site_paths(site.elementType, f"{path}[]")
    if isinstance(site, T.MapType):
        return _site_paths(site.valueType, f"{path}{{}}")
    return [path]


def _rewrite_expr(col: Column, site: T.DataType, name: str, mode: str) -> Column:
    """The rewritten Column for ``col``, built along the pruned ``site`` type."""
    if isinstance(site, T.StructType):
        result = col
        for field in site.fields:
            # withField preserves the nullness of the struct itself
            # (null struct stays null) and all sibling fields.
            result = result.withField(
                field.name,
                _rewrite_expr(col.getField(field.name), field.dataType, field.name, mode),
            )
        return result

    if isinstance(site, T.ArrayType):
        return F.transform(col, lambda x: _rewrite_expr(x, site.elementType, "", mode))

    if isinstance(site, T.MapType):
        return F.map_from_arrays(
            F.map_keys(col),
            F.transform(
                F.map_values(col),
                lambda v: _rewrite_expr(v, site.valueType, "", mode),
            ),
        )

    return _cast_string_to_ts(col, name, mode)


def _check_mode(mode: str) -> None:
    if mode not in ("strict", "coerce"):
        raise ValueError(f"mode must be 'strict' or 'coerce', got {mode!r}")


def _sites(schema: T.StructType) -> list[tuple[str, T.DataType | None]]:
    """(name, pruned site type or None) for each top-level field, in order."""
    return [(f.name, _site_type(f.dataType, f.name)) for f in schema.fields]


def _paths(sites: list[tuple[str, T.DataType | None]]) -> list[str]:
    return [p for name, site in sites if site is not None for p in _site_paths(site, name)]


def _columns(sites: list[tuple[str, T.DataType | None]], mode: str) -> list[Column]:
    return [
        F.col(name)
        if site is None
        else _rewrite_expr(F.col(name), site, name, mode).alias(name)
        for name, site in sites
    ]


def dt_rewrite_columns(
    schema: T.StructType, mode: str = "strict"
) -> tuple[list[Column], list[str]]:
    """Compile ``schema`` into the full top-level column list with every
    ``*_dt`` string site rewritten to timestamp.

    Returns (columns, rewritten_paths). Columns appear in original schema
    order; untouched columns are plain ``F.col`` references.
    """
    _check_mode(mode)
    sites = _sites(schema)
    return _columns(sites, mode), _paths(sites)


def dt_rewrite_paths(schema: T.StructType) -> list[str]:
    """Just the dotted paths that would be rewritten (for logging/lineage —
    the reference logs before/after schemas; SURVEY §2 U2). No py4j call."""
    return _paths(_sites(schema))


def dt_site_columns(schema: T.StructType) -> list[str]:
    """The top-level columns that hold at least one ``_dt`` site — the
    columns whose values the rewrite changes. No py4j call."""
    return [name for name, site in _sites(schema) if site is not None]


def rewrite_dt_fields(df: DataFrame, mode: str = "strict") -> DataFrame:
    """Apply the ``_dt`` rewrite to a DataFrame (no-op if no ``_dt`` sites)."""
    _check_mode(mode)
    sites = _sites(df.schema)
    if all(site is None for _, site in sites):
        return df
    return df.select(*_columns(sites, mode))
