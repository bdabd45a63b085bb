"""TPC-H revenue rounding is stable on an exact tie (q3, q7, q10).

Two-decimal prices and discounts give line revenues with exactly four
decimals, so an exact revenue sum can end in ``…50``.  The double sum
then lands a hair above or below that tie depending on summation order,
and a 2-place round flips between ``.xx`` and ``.xx+0.01`` — Spark and
DuckDB sum in different orders, so q3 missed its oracle by 0.01.
Rounding at the exact-decimal precision (4 places) makes the result
independent of summation order."""

from __future__ import annotations

import duckdb
import pytest

from erddap2agol_spark.queries import REGISTRY, _load_all

from .oracle_harness import compare

# three lines of one order: exact revenue 181416.9150; summed forward the
# doubles give 181416.915, summed in reverse 181416.91499999998
_LINES = [(70231.18, 0.08), (91277.26, 0.06), (34448.45, 0.10)]
_EXACT = 181416.915
_TABLES = ("customer", "orders", "lineitem", "nation", "supplier")
# per query, a ship date its date predicates keep (q3 wants lines
# shipped after 1998-06-01, q7 lines shipped in 1996-1997)
_SHIPDATE = {
    "q3_shipping_priority": "1998-07-01",
    "q7_volume_shipping": "1997-07-01",
    "q10_returned_items": "1998-07-01",
}


def _write_tables(sf_dir, lines, shipdate) -> duckdb.DuckDBPyConnection:
    """One BUILDING customer of NATION_10 with one order from 1997-08-15,
    whose returned ``lines`` all ship on ``shipdate`` from one supplier
    of NATION_12 — the row every one of the three queries keeps."""
    con = duckdb.connect()
    con.execute(f"COPY (SELECT 1::BIGINT AS c_custkey, 'Customer#1' AS c_name, "
                f"'BUILDING' AS c_mktsegment, 10::INT AS c_nationkey) "
                f"TO '{sf_dir}/customer.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT 7::BIGINT AS o_orderkey, 1::BIGINT AS o_custkey, "
                f"TIMESTAMP '1997-08-15 00:00:00' AS o_orderdate) "
                f"TO '{sf_dir}/orders.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT * FROM (VALUES (10::INT, 'NATION_10'), "
                f"(12::INT, 'NATION_12')) t(n_nationkey, n_name)) "
                f"TO '{sf_dir}/nation.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT 1::BIGINT AS s_suppkey, 12::INT AS s_nationkey) "
                f"TO '{sf_dir}/supplier.parquet' (FORMAT parquet)")
    values = ", ".join(
        f"({i}, CAST({p!r} AS DOUBLE), CAST({d!r} AS DOUBLE))"
        for i, (p, d) in enumerate(lines)
    )
    con.execute(
        f"COPY (SELECT 7::BIGINT AS l_orderkey, 1::BIGINT AS l_suppkey, "
        f"p AS l_extendedprice, d AS l_discount, 'R' AS l_returnflag, "
        f"TIMESTAMP '{shipdate} 00:00:00' AS l_shipdate "
        f"FROM (VALUES {values}) t(i, p, d) ORDER BY i) "
        f"TO '{sf_dir}/lineitem.parquet' (FORMAT parquet)"
    )
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_sum_order_really_straddles_the_tie():
    fwd = sum(p * (1 - d) for p, d in _LINES)
    rev = sum(p * (1 - d) for p, d in reversed(_LINES))
    assert round(fwd, 2) != round(rev, 2)  # the hazard the fix removes
    assert round(fwd, 4) == round(rev, 4) == _EXACT


@pytest.mark.parametrize("order", ["forward", "reversed"])
@pytest.mark.parametrize("query", sorted(_SHIPDATE))
def test_revenue_tie_matches_oracle_in_any_sum_order(spark, tmp_path, query, order):
    _load_all()
    spec = REGISTRY[query]
    lines = _LINES if order == "forward" else _LINES[::-1]
    con = _write_tables(tmp_path, lines, _SHIPDATE[query])
    try:
        df = spec.spark(spark, str(tmp_path))
        problems = compare(df, con, spec.oracle)
        assert not problems, "; ".join(problems)
        assert [r["revenue"] for r in df.collect()] == [_EXACT]
    finally:
        con.close()
