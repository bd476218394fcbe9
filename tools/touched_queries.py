"""Generate TOUCHED_QUERIES.json — the rotation's touched-since-seal
tier (r12 VERDICT task #2).

The driver correctness gate samples ~50 of ~380 registered queries per
round; after the r12 rotation change, failed and zero-evidence queries
gate first. This artifact adds the third tier: queries whose
implementing code changed since the previous seal, so every query an
optimization round touches gets a fresh driver oracle row in the SAME
round. Generated at seal time (git is available here; the driver
environment only reads the committed JSON):

    python tools/touched_queries.py <previous-seal-ref>

The file also records `round`, the newest CORRECTNESS_r<N> round at
seal time: the rotation drops a touched name once it has a green row
from a later round.

Resolution is DEF-level with taint propagation (module-level rules
marked 334/379 queries touched for the r13 diff, so the 50-query
driver sample drew mostly untouched names and the tier stopped doing
its job):

1. Per changed taps_spark module, diff hunks are mapped to top-level
   def/class spans (decorators included). Any changed line OUTSIDE
   every span (module constant / import churn) marks the module DIRTY:
   every query defined in it or importing its basename re-gates.
   `whole_modules=True` applies this rule to every changed module:
   the errs-toward-inclusion slice `tools/measure.py --changed-since`
   sweeps.
2. Changed defs seed a taint set. Taint propagates to any top-level
   def whose body references a tainted name (word-boundary match) in
   the same module or in a module importing the tainted module's
   basename, to a fixpoint — so a query calling a changed helper
   (directly or through local wrappers) re-gates without whole-module
   fan-out.
3. A query is touched iff its defining module is dirty / imports a
   dirty basename, its own source span intersects a hunk, or its
   function name is tainted. Unresolvable spans err toward inclusion.
"""

from __future__ import annotations

import ast
import inspect
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_hunks(diff_text: str) -> list[tuple[int, int]]:
    """Inclusive (start, end) line ranges changed in the NEW file, from
    -U0 hunk headers. A pure deletion at line c touches the seam
    (c, c+1) so adjacency errs toward inclusion."""
    ranges: list[tuple[int, int]] = []
    for m in re.finditer(r"^@@ -\d+(?:,\d+)? \+(\d+)(?:,(\d+))? @@", diff_text, re.M):
        start = int(m.group(1))
        count = int(m.group(2)) if m.group(2) is not None else 1
        if count == 0:
            ranges.append((max(start, 1), start + 1))
        else:
            ranges.append((start, start + count - 1))
    return ranges


def _changed_new_lines(ref: str, path: str) -> list[tuple[int, int]]:
    out = subprocess.run(
        ["git", "diff", "-U0", ref, "--", path],
        capture_output=True,
        text=True,
        cwd=REPO,
        check=True,
    ).stdout
    return parse_hunks(out)


def _top_level_spans(src: str) -> dict[str, tuple[int, int]]:
    """name -> (first, last) line span of each top-level def/class,
    decorators included."""
    tree = ast.parse(src)
    spans: dict[str, tuple[int, int]] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            spans[node.name] = (first, node.end_lineno or node.lineno)
    return spans


def _imports_basename(src: str, basename: str) -> bool:
    return f"import {basename}" in src or f".{basename} import" in src


def touched_for_rotation(ref: str, whole_modules: bool = False) -> set[str]:
    changed = subprocess.run(
        ["git", "diff", "--name-only", ref, "--", "*.py"],
        capture_output=True,
        text=True,
        cwd=REPO,
        check=True,
    ).stdout.split()
    changed_paths = sorted(
        {os.path.normpath(p) for p in changed if p.startswith("taps_spark")}
    )
    if not changed_paths:
        return set()

    src_cache: dict[str, str] = {}

    def src_of(rel: str) -> str:
        if rel not in src_cache:
            with open(os.path.join(REPO, rel)) as fh:
                src_cache[rel] = fh.read()
        return src_cache[rel]

    # Step 1: map hunks to top-level spans per changed module.
    dirty_modules: set[str] = set()  # relpaths needing full fan-out
    seed_taint: set[tuple[str, str]] = set()  # (relpath, def name)
    for path in changed_paths:
        if not os.path.exists(os.path.join(REPO, path)):
            continue  # deleted module: defined queries vanish with it
        ranges = _changed_new_lines(ref, path)
        if not ranges:
            continue
        if whole_modules:
            dirty_modules.add(path)
            continue
        try:
            spans = _top_level_spans(src_of(path))
        except SyntaxError:
            dirty_modules.add(path)
            continue
        covered = [False] * len(ranges)
        for name, (lo, hi) in spans.items():
            for i, (a, b) in enumerate(ranges):
                if a <= hi and lo <= b:
                    seed_taint.add((path, name))
                    covered[i] = True
        if not all(covered):
            dirty_modules.add(path)

    # Step 2: propagate taint through name references to a fixpoint.
    taps_modules: list[str] = []
    for root, _dirs, files in os.walk(os.path.join(REPO, "taps_spark")):
        for f in files:
            if f.endswith(".py"):
                taps_modules.append(
                    os.path.normpath(
                        os.path.relpath(os.path.join(root, f), REPO)
                    )
                )
    def_spans: dict[str, dict[str, tuple[int, int]]] = {}
    for rel in taps_modules:
        try:
            def_spans[rel] = _top_level_spans(src_of(rel))
        except SyntaxError:
            def_spans[rel] = {}

    def body_of(rel: str, name: str) -> str:
        lo, hi = def_spans[rel][name]
        return "".join(src_of(rel).splitlines(keepends=True)[lo - 1 : hi])

    tainted: set[tuple[str, str]] = set(seed_taint)
    while True:
        tainted_by_module: dict[str, set[str]] = {}
        for rel, name in tainted:
            tainted_by_module.setdefault(rel, set()).add(name)
        added = False
        for rel in taps_modules:
            reachable: set[str] = set()
            for src_rel, names in tainted_by_module.items():
                if src_rel == rel or _imports_basename(
                    src_of(rel),
                    os.path.splitext(os.path.basename(src_rel))[0],
                ):
                    reachable |= names
            if not reachable:
                continue
            pat = re.compile(
                r"\b(" + "|".join(sorted(re.escape(n) for n in reachable)) + r")\b"
            )
            for name in def_spans[rel]:
                if (rel, name) in tainted:
                    continue
                if pat.search(body_of(rel, name)):
                    tainted.add((rel, name))
                    added = True
        if not added:
            break

    # Step 3: resolve registry queries against dirty modules + taint.
    from taps_spark.queries import REGISTRY, _load

    _load()
    dirty_basenames = {
        os.path.splitext(os.path.basename(p))[0] for p in dirty_modules
    }
    changed_ranges = {p: _changed_new_lines(ref, p) for p in changed_paths}
    names: set[str] = set()
    for qname, rq in REGISTRY.items():
        try:
            f = inspect.getsourcefile(rq.fn)
            lines, first = inspect.getsourcelines(rq.fn)
            rel = os.path.normpath(os.path.relpath(f, REPO))
            lo, hi = first, first + len(lines) - 1
        except (OSError, TypeError):
            names.add(qname)  # unresolvable → err toward inclusion
            continue
        if rel in dirty_modules:
            names.add(qname)
            continue
        if dirty_basenames and rel in def_spans and any(
            _imports_basename(src_of(rel), b) for b in dirty_basenames
        ):
            names.add(qname)
            continue
        if any(
            a <= hi and lo <= b for a, b in changed_ranges.get(rel, [])
        ):
            names.add(qname)
            continue
        if (rel, getattr(rq.fn, "__name__", "")) in tainted:
            names.add(qname)
    return names


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python tools/touched_queries.py <git-ref> [out.json]")
        return 2
    ref = sys.argv[1]
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, "TOUCHED_QUERIES.json")
    )
    names = sorted(touched_for_rotation(ref))
    seal = max(
        (int(m.group(1)) for f in os.listdir(REPO)
         if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))),
        default=0,
    )
    with open(out_path, "w") as f:
        json.dump({"since": ref, "round": seal, "queries": names}, f, indent=1)
        f.write("\n")
    print(json.dumps({"since": ref, "round": seal, "n_touched": len(names), "out": out_path}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
