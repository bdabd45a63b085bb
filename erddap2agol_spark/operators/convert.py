"""Converter subsystem (SURVEY §2.8 F12/F15, §2.10 X1, §4 O11).

The reference's converters (Json2GeoJSON/Xml2GeoJSON) are ~2.5k lines of
per-row Python: flatten nested documents, infer four field types with a
name-based date heuristic over a sample buffer, then stream GeoJSON out.
Here the same three capabilities are plan-time/DataFrame operations:

- :func:`flatten` — recursive struct flatten into ``parent_child``
  columns with exclusion paths (P10) and ``name2``-style collision
  suffixes (U4). Pure ``select`` — zero data movement.
- :func:`infer_field_types` — the reference's ``_detectType`` semantics
  over a bounded sample (O11: 150-row buffer -> here ``limit(n)``) with
  the name-based epoch->date promotion Spark's inference lacks.
- converter plugin registry (X1) — named ``DataFrame -> DataFrame``
  transforms with the reference's "return None = no change" contract.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# F12 — nested flatten with exclusions + collision suffixes
# ---------------------------------------------------------------------------


def flatten(
    df: DataFrame,
    sep: str = "_",
    exclude: tuple[str, ...] = (),
    flatten_names: bool = True,
) -> DataFrame:
    """Depth-first flatten of struct columns into ``parent_child`` columns.

    ``exclude`` paths (dotted) are kept as-is (P10). ``flatten_names=False``
    uses only the leaf name, with ``name2``/``name3`` suffixes on
    collisions (the reference's unique-name disambiguation, U4).
    """
    out_cols: list[tuple[str, F.Column]] = []
    used: dict[str, int] = {}
    emitted: set[str] = set()

    def leaf_name(path: list[str]) -> str:
        base = sep.join(path) if flatten_names else path[-1]
        # name2/name3 disambiguation — plus a guard for the scheme's own
        # blind spot: a LITERAL leaf named e.g. "a2" colliding with the
        # suffix generated for a duplicated "a" (tracking only per-base
        # counters emits duplicate output columns in that case)
        n = used.get(base, 0)
        while True:
            name = base if n == 0 else f"{base}{n + 1}"
            n += 1
            if name not in emitted:
                break
        used[base] = n
        emitted.add(name)
        return name

    def walk(col: F.Column, dtype: T.DataType, path: list[str]) -> None:
        dotted = ".".join(path)
        if isinstance(dtype, T.StructType) and dotted not in exclude:
            for f in dtype.fields:
                walk(col[f.name], f.dataType, path + [f.name])
        else:
            out_cols.append((leaf_name(path), col))

    for f in df.schema.fields:
        walk(F.col(f.name), f.dataType, [f.name])
    return df.select(*[c.alias(n) for n, c in out_cols])


# ---------------------------------------------------------------------------
# F15/O11 — type inference with the name-based date heuristic
# ---------------------------------------------------------------------------

#: element names that promote integer-looking values to dates
#: (reference Converters/Json2GeoJSON.py:711-724).
DATE_NAME_TOKENS = ("date", "time", "updated", "created", "modified", "start", "end")

_INT_RE = re.compile(r"^[+-]?\d+$")
_FLOAT_RE = re.compile(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$")
_DATE_SEP_RE = re.compile(r"^\d{1,4}([-/:T .])\d{1,2}\1?")


def detect_type(name: str, samples: list[str | None]) -> str:
    """One column's type from its name + sampled values: one of
    ``integer | float | date | text`` (the converter's four types)."""
    vals = [v for v in samples if v is not None and v != ""]
    if not vals:
        return "text"
    name_says_date = any(tok in name.lower() for tok in DATE_NAME_TOKENS)
    if all(_INT_RE.match(v) for v in vals):
        return "date" if name_says_date else "integer"
    if all(_FLOAT_RE.match(v) for v in vals):
        return "float"
    if all(_DATE_SEP_RE.match(v) for v in vals) or (
        name_says_date and not any(_FLOAT_RE.match(v) for v in vals)
    ):
        return "date"
    return "text"


def infer_field_types(
    df: DataFrame, sample_size: int = 150
) -> dict[str, str]:
    """F15 over a bounded sample (the reference buffers the first 150
    rows, Json2GeoJSON.py:447; one ``limit`` scan here — at scale the
    limit short-circuits the read)."""
    string_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    sample = df.select(*string_cols).limit(sample_size).collect()
    out: dict[str, str] = {}
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            out[f.name] = (
                "date"
                if any(tok in f.name.lower() for tok in DATE_NAME_TOKENS)
                else "integer"
            )
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            out[f.name] = "float"
        elif isinstance(f.dataType, (T.TimestampType, T.DateType)):
            out[f.name] = "date"
        elif isinstance(f.dataType, T.StringType):
            out[f.name] = detect_type(f.name, [r[f.name] for r in sample])
        else:
            out[f.name] = "text"
    return out


def apply_field_types(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """Cast columns to their inferred converter types: integer -> bigint,
    float -> double, date -> timestamp (epoch-second ints honored), text
    stays string."""
    cols = []
    for f in df.schema.fields:
        t = types.get(f.name, "text")
        c = F.col(f.name)
        # try_cast / try_to_timestamp throughout: the type here is a NAME
        # HEURISTIC over untrusted data — a column called "count" with a
        # stray "N/A" must yield NULL for that cell, not an ANSI abort
        if t == "integer":
            c = c.try_cast("bigint")
        elif t == "float":
            c = c.try_cast("double")
        elif t == "date" and isinstance(f.dataType, T.StringType):
            c = F.when(
                c.rlike(r"^[+-]?\d+$"), F.timestamp_seconds(c.try_cast("bigint"))
            ).otherwise(F.try_to_timestamp(c))
        elif t == "date" and isinstance(
            f.dataType, (T.LongType, T.IntegerType, T.ShortType)
        ):
            c = F.timestamp_seconds(c)
        cols.append(c.alias(f.name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# X1 — converter plugin registry
# ---------------------------------------------------------------------------

Converter = Callable[[DataFrame], "DataFrame | None"]

_CONVERTERS: dict[str, Converter] = {}


def register_converter(name: str, fn: Converter | None = None):
    """Register a named DataFrame->DataFrame transform. Usable as a
    decorator. The reference's contract (Converters/Template.py): a
    converter may return None meaning "no change / nothing to publish"."""

    def _reg(f: Converter) -> Converter:
        _CONVERTERS[name] = f
        return f

    return _reg(fn) if fn is not None else _reg


def get_converter(name: str) -> Converter:
    try:
        return _CONVERTERS[name]
    except KeyError:
        raise KeyError(
            f"no converter {name!r}; registered: {sorted(_CONVERTERS)}"
        ) from None


def apply_converters(df: DataFrame, names: list[str]) -> DataFrame:
    """Chain converters; a None return leaves the frame unchanged
    (the reference skips the update in that case — callers can also
    inspect per-step results via get_converter directly)."""
    for name in names:
        out = get_converter(name)(df)
        if out is not None:
            df = out
    return df
