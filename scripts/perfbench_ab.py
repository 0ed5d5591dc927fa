#!/usr/bin/env python3
"""A/B comparison of two checkouts on one perfbench workload.

    python3 scripts/perfbench_ab.py <parent-checkout> <change-checkout> \\
        --workload W --pairs N --seed-from S

Pair k runs `perfbench/run.py --workload W --seed S+k --seconds T
--trace 0` once in each checkout, T being `run_seconds` of the change
checkout's BENCHMARK.json; the side that runs first alternates from pair
to pair. A run counts only when run.py exits 0 and its record is
`correct`; a pair counts only when both of its runs do. Every pair is
printed to stderr as it finishes. For every end-to-end metric in that
BENCHMARK.json the script then prints each side's median and
interquartile range over the counted pairs, the change of the medians,
and in how many of ALL the pairs run the change was better: a pair where
the change's run was refused is a loss, one where only the parent's was
refused is a win. When both runs of a pair report pass digests, the
pair's line also says whether they are equal.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 1800  # run.py bounds its own build and run; this is a backstop


def run_side(checkout, workload, seed, seconds):
    """One untraced run in `checkout`: (record or None, detail or None, why)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None, None, f"no result in {RUN_TIMEOUT_S} s"
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        tail = p.stderr.strip().splitlines()[-1:] or ["(no stderr)"]
        return None, None, f"run.py exited {p.returncode}: {tail[0]}"
    rec = json.loads(lines[-1])
    detail = None
    for l in reversed(lines[:-1]):
        try:
            d = json.loads(l)
        except ValueError:
            continue
        if isinstance(d, dict) and "workload" in d:
            detail = d
            break
    if not rec.get("correct"):
        return None, detail, "record is not correct"
    return rec, detail, ""


def digests(detail):
    notes = (detail or {}).get("pass_notes", []) + (detail or {}).get("notes", [])
    return sorted({m for n in notes for m in re.findall(r"digest=([0-9a-f]+)", str(n))})


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed-from", required=True, type=int)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = []  # one {side: record} per pair run; a refused side is absent
    for k in range(a.pairs):
        seed = a.seed_from + k
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        recs, dets = {}, {}
        for side in order:
            rec, det, why = run_side(sides[side], a.workload, seed, seconds)
            if rec is None:
                print(f"pair {k} seed {seed} {side}: not counted ({why})", file=sys.stderr)
            else:
                recs[side] = rec
            dets[side] = det
        shown = "  ".join(
            f"{s} " + " ".join(f"{m['name']}={recs[s]['metrics'][m['name']]['value']:.4g}"
                               for m in metrics) if s in recs else f"{s} refused"
            for s in order)
        dp, dc = digests(dets["parent"]), digests(dets["change"])
        same = "" if not (dp and dc) else ("  digests equal" if dp == dc
                                           else f"  DIGESTS DIFFER {dp} vs {dc}")
        print(f"pair {k} seed {seed} ({order[0]} first): {shown}{same}", file=sys.stderr)
        runs.append(recs)

    pairs = [r for r in runs if len(r) == 2]
    print(f"workload {a.workload}: {len(pairs)} of {len(runs)} pairs counted "
          f"(seeds {a.seed_from}..{a.seed_from + a.pairs - 1}, --seconds {seconds})")
    if not pairs:
        sys.exit(1)
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [r[s]["metrics"][name]["value"] for r in pairs] for s in sides}
        qp, qc = quartiles(vals["parent"]), quartiles(vals["change"])

        def change_wins(r):
            if "change" not in r:
                return False
            if "parent" not in r:
                return True
            p, c = (r[s]["metrics"][name]["value"] for s in ("parent", "change"))
            return c < p if lower else c > p

        wins = sum(change_wins(r) for r in runs)
        delta = (qc[1] - qp[1]) / qp[1] if qp[1] else float("nan")
        print(f"  {name} ({m['unit']}, {m['better']} is better): "
              f"parent median {qp[1]:.4g} IQR {qp[0]:.4g}-{qp[2]:.4g} (width {qp[2] - qp[0]:.4g}); "
              f"change median {qc[1]:.4g} IQR {qc[0]:.4g}-{qc[2]:.4g}; "
              f"median {delta:+.1%}; change better in {wins}/{len(runs)} pairs run")


if __name__ == "__main__":
    main()
