"""t2-gate mirror: every declared query vs its DuckDB oracle at sf0.001.

This is the same comparison the driver performs at sf0.01 (row count +
schema + order-insensitive value multiset); keeping it in pytest means a
regression in any operator fails the suite immediately.
"""

from __future__ import annotations

import pytest

from udacity_data_engineering_spark.plans.registry import all_queries
from udacity_data_engineering_spark.testing import compare

MANIFEST = all_queries()

#: Parametrizations whose replay is expensive even at sf0.001 (>=8 s each:
#: the 8-round pagerank CTE unroll on the DuckDB side, the multi-batch
#: streaming runs, the lake compaction lifecycle), tagged ``slow_oracle``
#: at registration. The default tier leaves them to the driver's own oracle
#: gate: tests/test_registry_order.py guards that each is in the driver
#: window or holds a green driver hash at most 2 rounds old.
SLOW_ORACLE = {n for n, q in MANIFEST.items() if "slow_oracle" in q.tags}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in SLOW_ORACLE else n
        for n in sorted(MANIFEST)
    ],
)
def test_query_matches_oracle(name, spark, sf_dir, oracle):
    q = MANIFEST[name]
    sdf = q.fn(spark, sf_dir)
    srows = sdf.collect()
    if q.oracle is None:
        assert len(srows) > 0, f"{name}: rows-only query returned 0 rows"
        return
    res = oracle.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    problems = compare(srows, sdf.columns, orows, ocols)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_manifest_sanity():
    assert len(MANIFEST) >= 40
    for name, q in MANIFEST.items():
        assert name.startswith("q_")
        assert q.doc, f"{name} lacks a docstring/citation"


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 5
    # driver contract: queries() keys == oracle_sql() keys ∪ rows-only
    qs, osql = m.queries(), m.oracle_sql()
    assert set(osql) <= set(qs)
