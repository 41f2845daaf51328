"""The driver-gate twin: every registered query vs its DuckDB oracle.

This test is the local replica of the driver's CORRECTNESS check —
keeping it green is the project invariant.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as contract
from tests.conftest import SF_DIR, assert_matches_oracle

QUERIES = contract.queries()
ORACLES = contract.oracle_sql()


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert df.columns  # stable schema


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, duck, ORACLES[name])


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.limit(1).count() >= 0


@pytest.mark.parametrize("knob", ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_PASSES"])
@pytest.mark.parametrize("bad", ["eight", "0"])
def test_bad_startup_knob_fails_before_spark(monkeypatch, knob, bad):
    """get_spark's core count and bench.py's pass count must be ints
    >= 1; anything else raises a ValueError naming the variable before
    a session is built (bench.py parses its knob before get_spark)."""
    import bench
    from eventstreamer_spark.session import get_spark

    monkeypatch.setenv(knob, bad)
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: pytest.fail("Spark started"))
    with pytest.raises(ValueError, match=knob):
        if knob == "SPARK_GRAFT_CPUS":
            get_spark()
        else:
            bench.main()
