"""Tests for the builder-side gate tooling — above all the dtype-STRICT
value compare in tools/local_correctness.py.

Round-5 post-mortem: `pipeline_mix_apply`'s oracle shipped an uncast
DuckDB HUGEINT-sum (surfacing as float64 `1435.0`) against Spark's
int64 `1435`.  The local gate's plain Python `==` treats those as
equal, so the bug escaped to the driver, whose value hash is
type-sensitive and failed the row.  These tests regression-pin the
strict checker against exactly that escape class.
"""

from __future__ import annotations

import json
import os
import sys
from decimal import Decimal

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.local_correctness import _norm  # noqa: E402


def test_norm_is_dtype_strict_int_vs_float():
    """THE r5 escape: int64 1435 vs float64 1435.0 must MISMATCH even
    though Python `==` calls them equal."""
    assert 1435.0 == 1435  # the enabling Python semantics
    assert _norm([(1435,)]) != _norm([(1435.0,)])
    assert _norm([(np.int64(1435),)]) != _norm([(np.float64(1435.0),)])
    # Same class on both sides still matches, numpy or builtin.
    assert _norm([(np.int64(7),)]) == _norm([(7,)])
    assert _norm([(np.float64(7.5),)]) == _norm([(7.5,)])


def test_norm_bool_is_not_int():
    """Python bool is an int subclass; the driver hash distinguishes
    them — so must the gate."""
    assert True == 1  # noqa: E712 — the enabling semantics
    assert _norm([(True,)]) != _norm([(1,)])
    assert _norm([(np.bool_(True),)]) == _norm([(True,)])


def test_norm_null_and_nan_collapse():
    assert _norm([(None,)]) == _norm([(float("nan"),)]) == _norm([(np.nan,)])
    assert _norm([(pd.NaT,)]) == _norm([(None,)])


def test_norm_sequences_and_maps():
    """Spark toPandas yields numpy arrays for ARRAY columns, DuckDB
    yields lists — same contents must match, dtype-strictly inside."""
    assert _norm([(np.array([1, 2, 3]),)]) == _norm([([1, 2, 3],)])
    assert _norm([(np.array([1.0, 2.0]),)]) != _norm([([1, 2],)])
    assert _norm([({"a": 1},)]) == _norm([({"a": 1},)])
    assert _norm([({"a": 1},)]) != _norm([({"a": 1.0},)])


def test_norm_decimal_distinct_from_float():
    assert _norm([(Decimal("2.5"),)]) != _norm([(2.5,)])
    assert _norm([(Decimal("2.50"),)]) == _norm([(Decimal("2.5"),)])


def test_norm_row_order_insensitive():
    assert _norm([(1, "a"), (2, "b")]) == _norm([(2, "b"), (1, "a")])


def test_checker_catches_the_r5_mix_apply_oracle_bug(spark, oracle, sf_dir):
    """End-to-end regression of the checker against the bug it missed:
    the UNFIXED r5 oracle (no CAST on toks_before) must FAIL the strict
    compare, and the fixed oracle must PASS — on the real query, real
    fixture data, real DuckDB."""
    from taps_spark.queries.text import MIX_APPLY_ORACLE, pipeline_mix_apply

    fixed = MIX_APPLY_ORACLE
    assert "CAST(p.toks AS BIGINT) AS toks_before" in fixed
    buggy = fixed.replace(
        "CAST(p.toks AS BIGINT) AS toks_before", "p.toks AS toks_before"
    )
    assert buggy != fixed

    spdf = pipeline_mix_apply(spark, sf_dir).toPandas()
    cols = sorted(spdf.columns)
    spark_norm = _norm(spdf[cols].itertuples(index=False, name=None))

    fixed_df = oracle.execute(fixed).fetch_df()
    buggy_df = oracle.execute(buggy).fetch_df()
    assert sorted(fixed_df.columns) == cols

    assert _norm(fixed_df[cols].itertuples(index=False, name=None)) == spark_norm
    assert _norm(buggy_df[cols].itertuples(index=False, name=None)) != spark_norm


def test_bench_compare_min_fallback(tmp_path, monkeypatch, capsys):
    """A median regression whose min-of-N holds is dismissed as
    container weather; one where the min regresses too is flagged."""
    import importlib
    import json

    import tools.bench_compare as bc

    importlib.reload(bc)

    prior = {
        "metric": "headline_query_wall_seconds",
        "value": 10.0,
        "queries": {"qa": 2.0, "qb": 2.0},
        "spread": {"qa": 0.1, "qb": 0.1},
        "min": {"qa": 1.9, "qb": 1.9},
    }
    now = {
        "metric": "headline_query_wall_seconds",
        "value": 14.0,
        "queries": {"qa": 4.0, "qb": 4.0},  # both medians 2x prior
        "spread": {"qa": 0.2, "qb": 0.2},
        # qa's fastest run matches prior (contention); qb's does not.
        "min": {"qa": 1.95, "qb": 3.8},
        "runs": 3,
    }
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(prior))
    now_file = tmp_path / "now.json"
    now_file.write_text(json.dumps(now))
    # bench_compare resolves priors relative to its own __file__ — point
    # it at the tmp sandbox.
    monkeypatch.setattr(
        bc, "__file__", str(tmp_path / "tools" / "bench_compare.py")
    )
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", str(now_file)])
    rc = bc.main()
    out = json.loads(capsys.readouterr().out)
    assert rc == 1
    assert [r["query"] for r in out["regressions"]] == ["qb"]
    assert [d["query"] for d in out["dismissed_as_noise"]] == ["qa"]
    assert "min-of-N holds" in out["dismissed_as_noise"][0]["basis"]


def test_driver_rotation_orders_failures_then_stalest():
    """The driver gates a bounded prefix of queries(); the contract is
    (1) queries with a non-green row in the LATEST driver artifact
    re-gate first, (2) queries with NO driver row at all gate next —
    zero hard signal outranks old-but-green signal (r11 VERDICT
    task #1), (3) everything else sorts LRU by last-green round so
    every query re-gates within ceil(N/50) rounds. Asserted against
    the invariant, not specific names, so the test survives future
    rounds' artifacts."""
    import __spark_entry__ as e

    names = list(e.queries().keys())
    counts, last, failed, latest = e._artifact_scan()

    n_failed = len([n for n in names if n in failed])
    assert set(names[:n_failed]) == failed & set(names)
    n_norow = len([n for n in names if n not in failed and n not in last])
    assert all(
        n not in last for n in names[n_failed : n_failed + n_norow]
    ), "zero-evidence queries must gate immediately after failures"
    touched = e._touched_since_seal()
    evidenced = names[n_failed + n_norow :]
    n_touch = len([n for n in evidenced if n in touched])
    assert all(
        n in touched for n in evidenced[:n_touch]
    ), "touched-since-seal queries must gate before the LRU wheel"
    for grp in (evidenced[:n_touch], evidenced[n_touch:]):
        rest = [last[n] for n in grp]
        assert rest == sorted(rest), "each tier must sort LRU by last green"
    # Single-scan helpers agree with the combined scan.
    assert e._coverage_counts() == counts
    assert e._failed_latest_round() == failed
    assert e._last_green_round() == last


def test_rotation_touched_tier(tmp_path, monkeypatch):
    """TOUCHED_QUERIES.json promotes touched queries ahead of the LRU
    wheel but NEVER ahead of failures or zero-evidence queries; a
    missing or malformed file degrades to a no-op (r12 VERDICT
    task #2)."""
    import __spark_entry__ as e

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None, "spark_rows": 1}
    bad = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({"q_old": green, "q_touched": green})
    )
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({"q_fail": bad, "q_fresh": green})
    )
    (tmp_path / "TOUCHED_QUERIES.json").write_text(
        json.dumps({"since": "abc", "queries": ["q_touched", "q_fail", "q_new"]})
    )
    monkeypatch.setattr(e, "__file__", str(tmp_path / "__spark_entry__.py"))
    order = e._rotated(["q_fresh", "q_old", "q_touched", "q_new", "q_fail"])
    # failed first, zero-evidence second (touched or not), touched
    # third, then LRU (q_old round 1 before q_fresh round 2).
    assert order == ["q_fail", "q_new", "q_touched", "q_old", "q_fresh"]
    # malformed artifact: tier degrades to a no-op, no crash.
    (tmp_path / "TOUCHED_QUERIES.json").write_text("{not json")
    assert e._touched_since_seal() == set()
    (tmp_path / "TOUCHED_QUERIES.json").unlink()
    assert e._touched_since_seal() == set()


def test_artifact_scan_sorts_rounds_numerically(tmp_path, monkeypatch):
    """r100 must sort AFTER r11, not between r10 and r11 (the
    lexicographic trap) — latest-round failures and last-green rounds
    both depend on numeric order."""
    import __spark_entry__ as e

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None, "spark_rows": 1}
    bad = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps({"qa": green}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"qa": bad}))
    (tmp_path / "CORRECTNESS_r100.json").write_text(
        json.dumps({"qa": green, "qb": bad})
    )
    monkeypatch.setattr(e, "__file__", str(tmp_path / "__spark_entry__.py"))
    counts, last, failed, latest = e._artifact_scan()
    assert latest == 100
    assert last["qa"] == 100 and counts["qa"] == 2
    assert failed == {"qb"}


def test_touched_queries_hunk_parser():
    """parse_hunks maps -U0 headers to inclusive new-file ranges; a
    pure deletion (count 0) touches the seam so adjacency errs toward
    inclusion."""
    from tools.touched_queries import parse_hunks

    diff = (
        "--- a/x.py\n+++ b/x.py\n"
        "@@ -10,2 +10,3 @@ def f():\n+a\n+b\n+c\n"
        "@@ -20 +22 @@ def g():\n+d\n"
        "@@ -30,4 +31,0 @@ def h():\n-e\n-f\n-g\n-h\n"
    )
    assert parse_hunks(diff) == [(10, 12), (22, 22), (31, 32)]


def test_touched_queries_span_resolution(tmp_path, monkeypatch):
    """Def-level resolution: the r13 generator must (a) return the
    empty set for an empty diff, (b) include a query whose own function
    changed, and (c) NOT blanket-include whole modules when every hunk
    lands inside specific defs (the 334/379 dilution this tool
    replaced).

    The empty diff is taken in a scratch repo whose tree matches HEAD,
    so uncommitted edits in the surrounding checkout cannot leak in."""
    import subprocess

    import tools.touched_queries as tq
    from tools.touched_queries import _top_level_spans, touched_for_rotation

    (tmp_path / "taps_spark").mkdir()
    (tmp_path / "taps_spark" / "mod.py").write_text("def f():\n    return 1\n")
    git = ["git", "-c", "user.name=t", "-c", "user.email=t@t"]
    for cmd in (["init", "-q"], ["add", "."], ["commit", "-q", "-m", "seed"]):
        subprocess.run(git + cmd, cwd=tmp_path, check=True)
    monkeypatch.setattr(tq, "REPO", str(tmp_path))

    assert touched_for_rotation("HEAD") == set()

    src = (
        "import os\n"
        "X = 1\n"
        "@deco\ndef f():\n    return X\n"
        "class C:\n    def m(self):\n        pass\n"
        "def g():\n    return f()\n"
    )
    spans = _top_level_spans(src)
    assert spans["f"] == (3, 5)  # decorator line included
    assert spans["C"] == (6, 8)
    assert spans["g"] == (9, 10)
