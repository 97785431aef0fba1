#!/usr/bin/env python3
"""Line up two graft.Bench artifacts (the SPARK_GRAFT_BENCH_OUT json).

Usage: python3 tools/bench_diff.py A.json B.json

Prints, for the last timed pass of each run, every query's seconds in A,
seconds in B and B/A, sorted by ratio (largest growth first); then the same
for each shared_cache_build builder and for total / total_inclusive; then
any query errors either run recorded. A query present in only one run is
listed last with "-" for the missing side.

Growth curves: A on the 1x sf dir, B on a ScaleSmoke replica of it.
"""
import json
import sys


def last_pass(art):
    passes = art.get("passes") or []
    return passes[-1]["queries"] if passes else art.get("queries", {})


def ratio(a, b):
    if a is None or b is None:
        return None
    return b / a if a > 0 else float("inf")


def totals(art):
    keys = (("total", "value"), ("total_inclusive", "total_inclusive"))
    return {name: art[k] for name, k in keys if k in art}


def table(title, a, b):
    names = sorted(set(a) | set(b))
    if not names:
        return
    rows = [(n, a.get(n), b.get(n), ratio(a.get(n), b.get(n))) for n in names]
    rows.sort(key=lambda r: (r[3] is None, -(r[3] or 0.0), r[0]))
    width = max(len(title), max(len(n) for n in names))
    print(f"{title:<{width}}  {'A s':>9}  {'B s':>9}  {'B/A':>7}")

    def fmt(v, spec):
        return "-" if v is None else format(v, spec)

    for n, x, y, r in rows:
        print(f"{n:<{width}}  {fmt(x, '9.3f'):>9}  {fmt(y, '9.3f'):>9}  "
              f"{fmt(r, '7.2f'):>7}")
    print()


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    print(f"A: {argv[1]} (sf {a.get('sf')})")
    print(f"B: {argv[2]} (sf {b.get('sf')})")
    print()
    table("query", last_pass(a), last_pass(b))
    table("shared_cache_build", a.get("shared_cache_build", {}),
          b.get("shared_cache_build", {}))
    table("total", totals(a), totals(b))
    for label, art in (("A", a), ("B", b)):
        for q, err in sorted(art.get("errors", {}).items()):
            print(f"error in {label}: {q}: {err}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
