#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs for one workload.

    python3 tools/pairs.py --parent <checkout> --change <checkout> \\
        --workload curation --seeds 3101-3110 --out pairs.jsonl
    python3 tools/pairs.py --report pairs.jsonl

For every seed, runs ``perfbench/run.py --workload W --seed N --seconds 1
--trace 0`` once in each checkout, one run at a time; the side that runs
first flips every pair (the parent leads on even pair indexes). Each run's
raw result line is appended to the JSONL file with its side, seed, pair
index, host steal and output digest, so an interrupted run keeps what
it measured (``--report`` prints the summary of an existing file).

The summary gives, per end-to-end metric, each side's median and
quartiles and the pairs the change won (ties count for neither), then the
verdict of the choosing-metrics rule: a gain needs wins in at least nine
tenths of the pairs and a median gap, in the better direction, larger
than the parent's interquartile range. Last, it says whether each seed's
output digest matches between the checkouts.
"""
import argparse
import json
import math
import os
import re
import statistics
import subprocess
import sys

STEAL = re.compile(r"host steal during the JVM: ([0-9.]+)%")


def seeds_of(spec):
    """"3101-3110" or "3101,3105,3107" (or a mix) to a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def build_hash(checkout):
    """The build id run.py names digest files with."""
    code = ("import os, sys; sys.dont_write_bytecode = True; "
            "sys.path.insert(0, 'perfbench'); import run; "
            "print(run.source_hash(os.getcwd()))")
    return subprocess.run([sys.executable, "-c", code], cwd=checkout, check=True,
                          capture_output=True, text=True).stdout.strip()


def directions(checkout):
    """End-to-end metric name -> "lower" / "higher" from BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"]}


def run_once(checkout, build, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    steal = STEAL.search(p.stdout)
    digest = None
    known = os.path.join(checkout, ".perfbench", "digests",
                         f"{workload}-seed{seed}-{build}")
    if os.path.exists(known):
        with open(known) as f:
            digest = f.read().strip()
    return {"exit": p.returncode, "result": result,
            "steal": float(steal.group(1)) / 100 if steal else None,
            "digest": digest,
            "stderr_tail": p.stderr[-2000:] if result is None else None}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(rows, better):
    pairs = {}
    for r in rows:
        pairs.setdefault(r["pair"], {})[r["side"]] = r
    full = [p for _, p in sorted(pairs.items()) if "parent" in p and "change" in p]
    print(f"{len(full)} complete pairs of {len(pairs)}; "
          f"seeds {sorted({p['parent']['seed'] for p in full})}")
    failed = [r for r in rows if r["result"] is None or not r["result"].get("correct")]
    print(f"runs with a failed check or no result: {len(failed)} of {len(rows)}")

    def value(r, m):
        res = r["result"]
        return res["metrics"][m]["value"] if res and m in res.get("metrics", {}) else None

    print(f"{'metric':<12} {'parent median [q1-q3]':>28} {'change median [q1-q3]':>28} "
          f"{'won':>7}  verdict")
    for m, way in better.items():
        ok = [p for p in full if value(p["parent"], m) is not None
              and value(p["change"], m) is not None]
        if not ok:
            continue
        a = [value(p["parent"], m) for p in ok]
        b = [value(p["change"], m) for p in ok]
        sign = 1 if way == "lower" else -1
        wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
        qa, qb = quartiles(a), quartiles(b)
        gap = sign * (qa[1] - qb[1])
        iqr = qa[2] - qa[0]
        gain = wins >= math.ceil(0.9 * len(ok)) and gap > iqr
        verdict = (f"gain (gap {gap:.4g} > parent IQR {iqr:.4g})" if gain else
                   f"no gain claimable (wins {wins}/{len(ok)}, gap {gap:.4g}, "
                   f"parent IQR {iqr:.4g})")
        print(f"{m:<12} {qa[1]:>10.4f} [{qa[0]:.4f}-{qa[2]:.4f}] "
              f"{qb[1]:>10.4f} [{qb[0]:.4f}-{qb[2]:.4f}] {wins:>3}/{len(ok):<3}  {verdict}")
    same = [p for p in full if p["parent"]["digest"] and
            p["parent"]["digest"] == p["change"]["digest"]]
    print(f"output digest identical on {len(same)} of {len(full)} seeds")
    for p in full:
        if p not in same:
            print(f"  seed {p['parent']['seed']}: parent {p['parent']['digest']} "
                  f"change {p['change']['digest']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help='e.g. "3101-3110" or "3101,3104"')
    ap.add_argument("--out", help="JSONL file the raw results are appended to")
    ap.add_argument("--report", help="only summarize this JSONL file")
    a = ap.parse_args()

    if a.report:
        with open(a.report) as f:
            rows = [json.loads(l) for l in f if l.strip()]
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        report(rows, directions(here))
        return
    if not (a.parent and a.change and a.workload and a.seeds and a.out):
        ap.error("--parent, --change, --workload, --seeds and --out are required")

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    builds = {s: build_hash(d) for s, d in sides.items()}
    rows = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], builds[side], a.workload, seed)
            r.update(side=side, seed=seed, pair=i, first=order[0],
                     workload=a.workload)
            rows.append(r)
            with open(a.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            wall = (r["result"] or {}).get("metrics", {}).get("wall_s", {}).get("value")
            print(f"pair {i} seed {seed} {side}: wall_s {wall} exit {r['exit']}",
                  file=sys.stderr, flush=True)
    report(rows, directions(sides["change"]))


if __name__ == "__main__":
    main()
