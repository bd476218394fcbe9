"""Tests of the benchmark's pure parts; none of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import random
import statistics

import pandas as pd
import pytest

import gen
import stats
from workloads import Op, pass_order


def _write(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    out = tmp_path / name
    gen.write_tables(gen.make_tables(seed, 0.001), str(out))
    return {f: (out / f).read_bytes() for f in sorted(os.listdir(out))}


def test_same_seed_gives_identical_input_bytes(tmp_path):
    a, b = _write(tmp_path, "a", 7), _write(tmp_path, "b", 7)
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen.TABLE_NAMES)
    assert a == b
    other = _write(tmp_path, "c", 8)
    assert all(other[f] != a[f] for f in ("orders.parquet", "documents.parquet", "embeddings.parquet"))


def test_copy_inputs_is_byte_identical_at_a_fresh_path(tmp_path):
    _write(tmp_path, "base", 3)
    gen.copy_inputs(str(tmp_path / "base"), str(tmp_path / "copy"))
    for f in os.listdir(tmp_path / "base"):
        assert (tmp_path / "copy" / f).read_bytes() == (tmp_path / "base" / f).read_bytes()
    with pytest.raises(FileExistsError):
        gen.copy_inputs(str(tmp_path / "base"), str(tmp_path / "copy"))


def test_generated_tables_match_the_fixture_shape():
    t = gen.make_tables(1, 0.01)
    n = gen.row_counts(0.01)
    assert {k: v.num_rows for k, v in t.items()} == n
    assert n["lineitem"] == 60_000 and n["documents"] == 500
    assert sum(gen.row_counts(0.1).values()) == 893_030
    docs = t["documents"].to_pandas()
    assert docs.text.str.endswith(" dup").sum() == len(docs) // 20
    assert (docs.n_chars == docs.text.str.len()).all()
    orders = t["orders"].column("o_orderkey").to_pylist()
    assert orders == list(range(n["orders"]))
    assert t["embeddings"].schema.field("embedding").type.value_type.bit_width == 32


def test_frame_digest_ignores_row_and_column_order_but_not_values():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, float("nan"), 2.0], "s": ["x", None, "z"]})
    b = a.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert stats.frame_digest(a) == stats.frame_digest(b)
    c = a.copy()
    c.loc[0, "v"] = 0.25
    assert stats.frame_digest(c) != stats.frame_digest(a)
    assert stats.frame_digest(a)[0] == 3


def test_normalize_rows_reads_numpy_scalars_and_missing_values_alike():
    rows_a = [(pd.NA, 1.5), (None, float("nan"))]
    import numpy as np

    rows_b = [(np.float64("nan"), np.float64(1.5)), (None, None)]
    assert stats.normalize_rows(rows_a) == stats.normalize_rows(rows_b)
    assert stats.normalize_rows([(np.array([1, 2]),)]) == [((1, 2),)]


def test_median_quartiles_and_geomean():
    vals = [4.0, 1.0, 3.0, 2.0, 10.0]
    assert stats.median(vals) == 3.0
    q = statistics.quantiles(vals, n=4)
    assert stats.quartiles(vals) == (q[0], q[2])
    assert stats.quartiles([2.5]) == (2.5, 2.5)
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    s = stats.summary([1.0, 2.0, 3.0])
    assert s["median"] == 2.0 and s["n"] == 3


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        ("op", 0.0, 10.0, None),
        ("a", 1.0, 4.0, 0),
        ("a1", 2.0, 3.0, 1),
        ("b", 3.0, 6.0, 0),  # overlaps a: [1, 6] covered once
        ("c", 8.0, 12.0, 0),  # runs past its parent: only [8, 10] counts
    ]
    got = stats.self_times(spans)
    assert got == pytest.approx([10.0 - 5.0 - 2.0, 3.0 - 1.0, 1.0, 3.0, 4.0])
    assert math.isclose(sum(got[1:3]), 3.0)


@pytest.mark.parametrize(
    "text,value",
    [
        ("84.3 KiB", 84.3 * 1024),
        ("0.0 B", 0.0),
        ("60,000", 60_000.0),
        ("108 ms", 0.108),
        ("1.5 m", 90.0),
        ("total (min, med, max (stageId: taskId))\n3.3 s (705 ms, 869 ms, 1.0 s (stage 3.0: task 2))", 3.3),
    ],
)
def test_parse_sql_metric(text, value):
    assert stats.parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        stats.parse_sql_metric("3 parsecs")


def test_pass_order_shuffles_groups_and_keeps_order_within_one():
    ops = [Op(n, None, None, group=g) for n, g in
           [("pull", "p"), ("rerun", "p"), ("resume", "r"), ("push", "j"), ("jpull", "j"), ("s", "s")]]
    orders = {tuple(o.name for o in pass_order(ops, random.Random(seed))) for seed in range(20)}
    assert len(orders) > 1
    for order in orders:
        assert order.index("pull") + 1 == order.index("rerun")
        assert order.index("push") + 1 == order.index("jpull")
    assert pass_order(ops, random.Random(5)) == pass_order(ops, random.Random(5))
