"""Driver-contract surface checks (fast; full compare is tools/selfcheck)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_registry_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 35
    # every registered query is oracle-checked: none is rows-only
    assert set(oracles) == set(qs)
    # every oracle is non-trivial SQL
    assert all("SELECT" in sql.upper() for sql in oracles.values())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "o_orderkey",
        "o_orderdate",
        "o_orderstatus",
        "total_price",
        "total_k",
        "partkeys",
        "n_items",
    ]


def test_window_order_applied():
    # the driver records the FIRST 50 registered queries; the explicit
    # _WINDOW_ORDER list must lead the registry exactly, reference
    # only real queries, and fill the window completely
    from spotify_pipeline_gcp_spark.queries import _WINDOW_ORDER, load_all

    reg = load_all()
    names = list(reg)
    assert len(_WINDOW_ORDER) == 50
    assert len(set(_WINDOW_ORDER)) == 50
    assert names[: len(_WINDOW_ORDER)] == _WINDOW_ORDER
    missing = [n for n in _WINDOW_ORDER if n not in reg]
    assert not missing
