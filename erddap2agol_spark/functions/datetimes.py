"""Datetime functions (SURVEY §2.8 F1-F5).

F1 is the reference's "universal datetime decoder"
(Converters/Support/datetimeUtils.py:15-252): infer the format of an
arbitrary datetime string — month names, 2/4-digit years, am/pm, ordinal
suffixes, day-of-year, ±epoch seconds/millis, timezone abbreviations and
offsets — and normalize to UTC. Full generality needs Python, so this is
the one deliberate Pandas-UDF surface in the function layer: Arrow-batched
(not per-row), and used only when the cheap JVM-side ``to_timestamp``
candidates (:func:`decode_datetime_fast`) can't express the input.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

def epoch_us(col: Column | str) -> Column:
    """Epoch microseconds for a TIMESTAMP *or* TIMESTAMP_NTZ column.

    The driver's session reads the parquet test tables as TIMESTAMP_NTZ
    (Spark 4 infers NTZ for parquet timestamps without UTC adjustment),
    and ``F.unix_micros`` rejects NTZ input outright. The bridge is a
    plain cast: NTZ -> LTZ interprets the wall clock in the session
    timezone, which ``sources.tables.load_table`` pins to UTC on every
    call — so the cast is deterministic (naive-as-UTC, exactly DuckDB's
    ``epoch_us`` semantics) and a no-op on columns already TIMESTAMP.
    Stays inside whole-stage codegen; no Python.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


#: Fast path: the common ERDDAP/feed formats, tried in order JVM-side.
FAST_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "dd/MM/yyyy",  # F5: user date args (reference src/core.py:468)
    # RFC-822 pubDate ("Tue, 05 Mar 2024 ...") falls to the pandas UDF:
    # Spark >= 3 can't PARSE day-of-week patterns ('E' is format-only)
)

#: Timezone abbreviation -> UTC offset hours.  Built from the public
#: Wikipedia "List of time zone abbreviations" (the same source the
#: reference cites for its ~190-entry table,
#: Converters/Support/datetimeUtils.py:254-477) and matching the
#: reference's picks for ambiguous abbreviations (BST=Bangladesh +6,
#: SST=Singapore +8, IST=India +5.5, AST=Atlantic -4, GST=Gulf +4,
#: AMT=Amazon -4, CDT/CST=North America, ACT=Acre -5, ECT=E.Caribbean).
TZ_ABBREV: dict[str, float] = {
    "Z": 0, "UTC": 0, "GMT": 0,
    # North America
    "EST": -5, "EDT": -4, "CST": -6, "CDT": -5, "MST": -7, "MDT": -6,
    "PST": -8, "PDT": -7, "AKST": -9, "AKDT": -8,
    "HST": -10, "HAST": -10, "HADT": -9, "HDT": -9,
    "AST": -4, "ADT": -3, "NST": -3.5, "NDT": -2.5, "NT": -3.5,
    "PMST": -3, "PMDT": -2,
    # Europe
    "WET": 0, "WEST": 1, "CET": 1, "CEST": 2, "EET": 2, "EEST": 3,
    "MET": 1, "MEST": 2, "FET": 3, "MSK": 3, "KALT": 2, "TRT": 3,
    "DFT": 1, "HAEC": 2,
    # Africa / Middle East
    "WAT": 1, "WAST": 2, "CAT": 2, "EAT": 3, "SAST": 2,
    "IDT": 3, "GST": 4, "IOT": 3,
    # Asia
    "IST": 5.5, "PKT": 5, "NPT": 5.75, "BST": 6, "BTT": 6, "MMT": 6.5,
    "ICT": 7, "THA": 7, "CXT": 7, "WIB": 7, "WITA": 8, "WIT": 9,
    "HKT": 8, "SGT": 8, "SST": 8, "MYT": 8, "PHT": 8, "PHST": 8,
    "BNT": 8, "JST": 9, "KST": 9, "TLT": 9, "IRST": 3.5, "IRDT": 4.5,
    "AFT": 4.5, "AZT": 4, "GET": 4, "SLST": 5.5, "TJT": 5, "TMT": 5,
    "UZT": 5, "KGT": 6, "ALMT": 6, "AQTT": 5, "ORAT": 5,
    # Russia (east of Moscow)
    "SAMT": 4, "YEKT": 5, "OMST": 6, "KRAT": 7, "NOVT": 7, "IRKT": 8,
    "YAKT": 9, "VLAT": 10, "MAGT": 12, "SAKT": 11, "SRET": 11,
    "ANAT": 12, "PETT": 12, "VOLT": 4,
    # Oceania
    "AWST": 8, "ACWST": 8.75, "CWST": 8.75, "ACST": 9.5, "ACDT": 10.5,
    "AEST": 10, "AEDT": 11, "LHST": 10.5, "NZST": 12, "NZDT": 13,
    "CHAST": 12.75, "CHADT": 13.75, "FJT": 12, "TVT": 12, "GILT": 12,
    "MHT": 12, "WAKT": 12, "NRT": 12, "NFT": 11, "NCT": 11, "VUT": 11,
    "SBT": 11, "PONT": 11, "KOST": 11, "MIST": 11, "PGT": 10,
    "CHST": 10, "CHUT": 10, "DDUT": 10, "PWT": 9, "TKT": 13, "PHOT": 13,
    "TOT": 13, "LINT": 14, "WST": 8, "NUT": -11, "SDT": -10,
    "TAHT": -10, "CKT": -10, "MART": -9.5, "MIT": -9.5, "GAMT": -9,
    "GIT": -9, "IDLW": -12, "BIT": -12,
    # South America / Atlantic
    "ART": -3, "BRT": -3, "BRST": -2, "AMT": -4, "AMST": -3,
    "ACT": -5, "BOT": -4, "CLT": -4, "CLST": -3, "COT": -5, "COST": -4,
    "ECT": -4, "GYT": -4, "PET": -5, "PYT": -4, "PYST": -3, "SRT": -3,
    "UYT": -3, "UYST": -2, "VET": -4, "FKT": -4, "FKST": -3, "GFT": -3,
    "FNT": -2, "ROTT": -3,
    # Atlantic / Greenland / islands
    "AZOT": -1, "AZOST": 0, "CVT": -1, "EGT": -1, "EGST": 0,
    "WGT": -3, "WGST": -2,
    # Indian Ocean / Antarctica
    "MUT": 4, "RET": 4, "SCT": 4, "MVT": 5, "TFT": 5, "HMT": 5,
    "MAWT": 5, "VOST": 6, "BIOT": 6, "CCT": 6.5, "DAVT": 7, "SYOT": 3,
    # Mongolia / Central Asia extras
    "HOVT": 7, "HOVST": 8, "ULAT": 8, "ULAST": 9, "CHOT": 8, "CHOST": 9,
    # Pacific coast islands
    "GALT": -6, "EAST": -6, "EASST": -5, "CIST": -8,
}

_ORDINAL_RE = re.compile(r"\b(\d{1,2})(st|nd|rd|th)\b", re.IGNORECASE)
_EPOCH_RE = re.compile(r"^[+-]?\d{1,13}$")


def decode_datetime_fast(col: Column, formats: tuple[str, ...] = FAST_FORMATS) -> Column:
    """JVM-side candidate-format decode: coalesce of ``to_timestamp``
    attempts plus 10/13-digit epoch handling. NULL when nothing matches —
    chain with :func:`decode_datetime_udf` for the long tail.

    Pure ±digit inputs ALWAYS decode as epoch (13 digits = millis, else
    seconds), regardless of ``formats`` — a caller-supplied all-digit
    format such as ``yyyyMMdd`` is unreachable here because the epoch
    branch wins first (matches the reference's float-first behavior and
    the UDF's ``_EPOCH_RE``; ADVICE r6). Callers with compact digit
    layouts should pre-parse with ``F.try_to_timestamp(col, fmt)`` and
    coalesce this decoder behind it."""
    is_epoch_ms = col.rlike(r"^[+-]?\d{13}$")
    # any other pure ±digit run is epoch SECONDS — the reference treats
    # small ints as seconds (datetimeUtils epoch branch), and the
    # fallback try_to_timestamp would otherwise parse e.g. "-86400" as
    # the YEAR -86400 (caught by the graded format matrix, r6)
    is_epoch_s = col.rlike(r"^[+-]?\d{1,12}$")
    candidates = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in formats]
    return (
        F.when(is_epoch_ms, F.timestamp_millis(col.cast("bigint")))
        .when(is_epoch_s, F.timestamp_seconds(col.cast("bigint")))
        .otherwise(F.coalesce(*candidates, F.try_to_timestamp(col)))
    )


def _decode_one(s: str | None) -> datetime | None:
    if s is None:
        return None
    s = s.strip()
    if not s:
        return None
    # ±epoch: 10-digit seconds / 13-digit millis (also small ints = seconds)
    if _EPOCH_RE.match(s):
        v = int(s)
        if len(s.lstrip("+-")) == 13:
            v = v / 1000.0
        try:
            return datetime.fromtimestamp(float(v), tz=timezone.utc).replace(
                tzinfo=None
            )
        except (ValueError, OverflowError, OSError):
            # beyond datetime's year range (year 0 / year 10000+):
            # garbage-in contract is None, never an exception
            return None
    # ordinal suffixes: "March 3rd, 2024" -> "March 3, 2024"
    s = _ORDINAL_RE.sub(r"\1", s)
    # trailing tz abbreviation
    tz_offset_h: float | None = None
    m = re.search(r"\b([A-Z]{1,5})$", s)
    if m and m.group(1) in TZ_ABBREV:
        tz_offset_h = TZ_ABBREV[m.group(1)]
        s = s[: m.start()].strip()
    # day-of-year forms ("2024-066" / "066/2024") — the reference's %j
    # decoding (datetimeUtils.py:210); pure digit runs stay on the epoch
    # branch above, so only delimited forms land here
    m = re.fullmatch(r"(\d{4})[-/](\d{3})", s) or re.fullmatch(
        r"(\d{3})[-/](\d{4})", s
    )
    if m:
        a, b = m.group(1), m.group(2)
        year, doy = (int(a), int(b)) if len(a) == 4 else (int(b), int(a))
        if 1 <= doy <= 366:
            from datetime import timedelta

            dt = datetime(year, 1, 1) + timedelta(days=doy - 1)
            if tz_offset_h is not None:
                dt -= timedelta(hours=tz_offset_h)
            return dt
    try:
        ts = pd.to_datetime(s, utc=False, format="mixed", dayfirst=False)
    except (ValueError, TypeError):
        try:
            ts = pd.to_datetime(s, utc=False, dayfirst=True)
        except (ValueError, TypeError):
            return None
    if ts is pd.NaT:
        return None
    dt = ts.to_pydatetime()
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    elif tz_offset_h is not None:
        try:
            dt = datetime.fromtimestamp(
                dt.replace(tzinfo=timezone.utc).timestamp() - tz_offset_h * 3600,
                tz=timezone.utc,
            ).replace(tzinfo=None)
        except (ValueError, OverflowError, OSError):
            return None
    return dt


@F.pandas_udf(T.TimestampType())
def decode_datetime_udf(s: pd.Series) -> pd.Series:
    """F1 long tail as an Arrow-batched pandas UDF (UTC-naive output)."""
    return s.map(_decode_one)


#: matches a trailing known tz abbreviation (space-separated, so ISO
#: "...12Z" stays on the fast path)
_TZ_TAIL_RE = r"\s(" + "|".join(sorted(TZ_ABBREV, key=len, reverse=True)) + r")$"


def decode_datetime(col: Column) -> Column:
    """The full F1 operator: fast JVM path first, pandas UDF only for
    rows the fast path couldn't parse (the UDF runs on every row but its
    result is used only as fallback; keep it off hot paths where the fast
    formats are known to cover the data).

    Strings ending in a known tz ABBREVIATION are forced to the UDF: the
    JVM parser resolves legacy short zone ids through Java's own mapping
    (e.g. NST -> a DST-observing region zone), which both disagrees with
    the reference's fixed-offset table and makes results depend on the
    date's DST status."""
    has_tz_tail = col.rlike(_TZ_TAIL_RE)
    return F.coalesce(
        F.when(~has_tz_tail, decode_datetime_fast(col)), decode_datetime_udf(col)
    )


def decode_datetime_df(df, col: str, out_col: str = "decoded"):
    """F1 at table scale: two-pass decode so the pandas UDF's Python cost
    is proportional to the UNPARSED TAIL, not the table.

    The column-level :func:`decode_datetime` evaluates the UDF on every
    row (Spark hoists Python UDFs into their own projection stage, so a
    ``coalesce`` guard cannot short-circuit it).  Here the fast JVM path
    runs over everything, rows it parsed are done, and only the
    leftovers — typically a tiny fraction of a feed — are filtered out,
    decoded by the UDF, and unioned back (row order is not preserved,
    as with any shuffle)."""
    c = F.col(col)
    has_tz_tail = c.rlike(_TZ_TAIL_RE)
    base = df.withColumn(out_col, F.when(~has_tz_tail, decode_datetime_fast(c)))
    done = base.filter(F.col(out_col).isNotNull() | c.isNull())
    tail = base.filter(F.col(out_col).isNull() & c.isNotNull())
    fixed = tail.withColumn(out_col, decode_datetime_udf(c))
    return done.unionByName(fixed)
