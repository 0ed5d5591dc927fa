#!/usr/bin/env python3
"""Compare two sides of a graft.Bench A/B, query by query.

    scripts/analyze_bench_ab.py --a OUT/bench_a*.json --b OUT/bench_b*.json \
        [--r10 BENCH_LOCAL_r10.json] [--r11 BENCH_LOCAL_r11.json] [--tail 1.3]

Each side takes one or more Bench JSON records (the `bench_<side><leg>.json`
files `scripts/bench_ab.sh` writes, or any file with a "queries" map of
query name to seconds); a side's time for a query is the median over its
files. Prints both sides' totals over their common queries, the median
per-query ratio A/B and how many queries A ran slower, and the queries
whose ratio is beyond --tail either way.

With the committed r10/r11 records the r12 protocol adjudication is
printed too (run_bench_protocol_ab.sh wrote A = r11 protocol,
B = r10 protocol, both on one binary): B against r10 under the same
protocol, r11 against r10, and A against r11.
"""
import argparse
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)["queries"]


def side(paths):
    """Per-query median over one side's Bench records."""
    runs = [load(p) for p in paths]
    names = set().union(*runs)
    return {q: statistics.median(r[q] for r in runs if q in r) for q in names}


def ratios(a, b):
    """Common queries, per-query a/b ratios, their median, and the count
    of queries where a is slower."""
    common = sorted(set(a) & set(b))
    rs = [(q, a[q] / b[q]) for q in common if b[q] > 0]
    if not rs:
        sys.exit("no common query with a positive time on both sides")
    med = statistics.median(r for _, r in rs)
    slower = sum(1 for _, r in rs if r > 1.0)
    return common, rs, med, slower


def compare(title, a, b, na, nb):
    common, rs, med, slower = ratios(a, b)
    print(f"== {title} ==")
    print(f"common={len(common)} total_{na}={sum(a[q] for q in common):.1f}s "
          f"total_{nb}={sum(b[q] for q in common):.1f}s "
          f"median {na}/{nb}={med:.3f} {na}-slower={slower}/{len(rs)}")
    return rs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", nargs="+", required=True, help="side A Bench JSON files")
    ap.add_argument("--b", nargs="+", required=True, help="side B Bench JSON files")
    ap.add_argument("--r10", help="committed r10 record (BENCH_LOCAL_r10.json)")
    ap.add_argument("--r11", help="committed r11 record (BENCH_LOCAL_r11.json)")
    ap.add_argument("--tail", type=float, default=1.3,
                    help="list queries whose ratio is beyond this factor")
    args = ap.parse_args()

    a, b = side(args.a), side(args.b)
    rs = compare(f"A ({len(args.a)} runs) vs B ({len(args.b)} runs)", a, b, "A", "B")
    tail = sorted((r for r in rs if max(r[1], 1 / r[1]) > args.tail),
                  key=lambda x: -max(x[1], 1 / x[1]))
    print(f"beyond {args.tail}x either way: {len(tail)}")
    for q, r in tail:
        print(f"  {q}: A/B={r:.2f}  (A={a[q]:.3f}s B={b[q]:.3f}s)")

    if args.r10:
        r10 = load(args.r10)
        print()
        rs2 = compare("B vs committed r10", b, r10, "B", "r10")
        slow = sorted((r for r in rs2 if r[1] > args.tail), key=lambda x: -x[1])
        print(f">{args.tail}x vs r10: {len(slow)}")
        for q, r in slow[:15]:
            print(f"  {q}: {r:.2f}x  (B={b[q]:.2f}s r10={r10[q]:.2f}s)")
        if args.r11:
            print()
            compare("committed r11 vs committed r10", load(args.r11), r10, "r11", "r10")
    if args.r11:
        print()
        compare("A vs committed r11", a, load(args.r11), "A", "r11")


if __name__ == "__main__":
    sys.exit(main())
