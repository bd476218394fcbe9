"""Oracle-parity tests: run EVERY registered query against its DuckDB
oracle at sf0.001 and require exact row-set equality — a faithful
local mirror of the driver's CORRECTNESS gate (row count + schema +
order-insensitive values, compared dtype-strictly like the driver's
value hash), so hash mismatches surface here first.
"""

from __future__ import annotations

import pytest

from bench import force
from taps_spark.queries import REGISTRY, _load
from tools.measure import _norm

_load()

PARITY_CASES = sorted(name for name, rq in REGISTRY.items() if rq.oracle is not None)
ROWS_ONLY_CASES = sorted(name for name, rq in REGISTRY.items() if rq.oracle is None)


@pytest.mark.parametrize("name", PARITY_CASES)
def test_query_matches_oracle(spark, oracle, sf_dir, name):
    rq = REGISTRY[name]
    sdf = rq.fn(spark, sf_dir)

    # Column names must match (driver sorts columns by name before
    # hashing, so both sides must expose identical names).
    spark_pdf = sdf.toPandas()
    duck = oracle.execute(rq.oracle).fetch_df()
    assert sorted(spark_pdf.columns) == sorted(duck.columns), (
        f"{name}: column names differ: spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(duck.columns)}"
    )

    cols = sorted(spark_pdf.columns)
    s_rows = _norm(spark_pdf[cols].itertuples(index=False, name=None))
    d_rows = _norm(duck[cols].itertuples(index=False, name=None))

    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} != {len(d_rows)}"
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_query_runs(spark, sf_dir, name):
    rq = REGISTRY[name]
    sdf = rq.fn(spark, sf_dir)
    # Must produce a stable schema and be runnable end to end. A noop
    # write computes every column; count() would let Catalyst prune
    # the ones it does not need.
    assert sdf.columns
    force(sdf)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))
