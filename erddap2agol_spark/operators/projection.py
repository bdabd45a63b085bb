"""Metadata-driven projection (SURVEY §2.3 P1/P2).

The reference derives the column set from DAS metadata, not data: it drops
QC/QARTOD-suffixed variables, single-character names and NC_GLOBAL, keeping
variables that have an ``actual_range`` or exactly one attribute
(reference ``src/das_client.py:299-389``, suffix list at ``:324-328``).

Here the same rule is a pure name-predicate applied at plan time, so
Catalyst column pruning pushes the resulting projection into the parquet
scan (``ReadSchema`` contains only kept columns) — at 100 TB this is the
difference between scanning every column and scanning three.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame

#: QC variable suffixes dropped by the reference (src/das_client.py:324-328).
QC_SUFFIXES: tuple[str, ...] = (
    "_qc_",
    "qartod_",
    "_qc",
    "_clm",
    "_loc",
    "_flt",
    "_rct",
    "_agg",
    "_rng",
    "_gap",
    "_spk",
)

#: Dimension/bookkeeping variables excluded from griddap measure lists
#: (src/das_client.py:245-296).
GRID_DIM_NAMES: frozenset[str] = frozenset(
    {"latitude", "longitude", "time", "NC_GLOBAL", "altitude", "zlev", "depth"}
)


def keep_attribute(
    name: str,
    drop_suffixes: Sequence[str] = QC_SUFFIXES,
    min_name_len: int = 2,
    reserved: Iterable[str] = ("NC_GLOBAL",),
) -> bool:
    """The reference's attribute filter as a pure predicate.

    Drops: QC-suffixed / qartod-prefixed names, names shorter than
    ``min_name_len`` (single-char vars, src/das_client.py:366-368), and
    reserved metadata pseudo-variables.
    """
    if name in set(reserved):
        return False
    if len(name) < min_name_len:
        return False
    low = name.lower()
    for suf in drop_suffixes:
        # the reference treats these as "appears at end or as infix marker"
        if low.endswith(suf) or (suf.endswith("_") and suf in low) or low.startswith("qartod_"):
            return False
    return True


def metadata_projection(
    df: DataFrame,
    drop_suffixes: Sequence[str] = QC_SUFFIXES,
    return_all: bool = False,
    required: Sequence[str] = (),
) -> DataFrame:
    """Project ``df`` to the metadata-approved column set (P1).

    ``return_all=True`` bypasses filtering, mirroring the reference's
    ``all_attributes_bool`` toggle (src/core.py:686-687). ``required``
    columns are always kept (the reference always keeps ``time`` and
    forces ``depth`` first when present, src/data_wrangler.py:334-337).
    """
    if return_all:
        return df
    req = [c for c in required if c in df.columns]
    kept = [
        c
        for c in df.columns
        if c not in req and keep_attribute(c, drop_suffixes=drop_suffixes)
    ]
    # reference orders depth (when required) ahead of the rest
    return df.select(*req, *kept)
