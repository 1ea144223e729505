#!/usr/bin/env python3
"""Compare two checkouts on the repository benchmark in alternated pairs.

Usage:

    python3 tools/bench_pairs.py --parent ../parent --change . \\
        --pairs 10 --seed-base 7000 --workloads fact_sql,zoom_etl \\
        --out pairs.jsonl

For each workload, pair i runs `python3 perfbench/run.py --workload W
--seed <seed-base + i> --seconds 12 --trace 0` once in each checkout,
with the same seed on both sides; even pairs run the parent first, odd
pairs the change. Every run's JSON result is appended to --out as it
lands, so `--report pairs.jsonl` can print the comparison again without
running anything.

For every end-to-end metric in BENCHMARK.json the report prints each
side's median and quartiles, the change's wins (ties count for
neither), the parent's IQR, and a verdict against the metric's bound:

  improved     the change wins at least 9/10 of the pairs and the
               medians differ, in its favour, by more than the parent's
               IQR;
  worse        the change's median is worse than the parent's by more
               than the bound;
  unresolved   the parent's own spread (IQR / median) is wider than the
               bound, and not every change run beats every parent run;
  within bound otherwise.

It also prints failed/attempted operations and correct runs per side,
and each pair's CPU steal: the share of the host's CPU time taken by
other guests while each side ran (from /proc/stat; "-" where that file
is missing), so noisy pairs can be told apart. The tool only reads
BENCHMARK.json and runs perfbench/run.py; it changes neither.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

SECONDS = 12


def log(msg):
    print(f"[bench_pairs] {msg}", file=sys.stderr, flush=True)


def cpu_ticks():
    """(steal, total) CPU ticks since boot, or None without /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return f[7] if len(f) > 7 else 0, sum(f)


def steal_pct(before, after):
    if before is None or after is None or after[1] <= before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def run_one(checkout, workload, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"]
    try:
        r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=900)
        lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
        if lines:
            return json.loads(lines[-1])
        log(f"no result from {checkout} (exit {r.returncode}): "
            f"{r.stderr.strip().splitlines()[-1:]}")
    except subprocess.TimeoutExpired:
        log(f"timeout in {checkout}")
    return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Verdict of one metric; `parent`/`change` are per-pair values."""
    n = len(parent)
    sign = 1.0 if better == "lower" else -1.0
    # positive = the change is better
    gaps = [sign * (p - c) for p, c in zip(parent, change)]
    wins = sum(1 for g in gaps if g > 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    iqr = pq3 - pq1
    gain = sign * (pmed - cmed)
    if wins >= math.ceil(0.9 * n) and gain > iqr:
        v = "improved"
    elif pmed != 0 and -gain / abs(pmed) > bound:
        v = "worse"
    elif pmed != 0 and iqr / abs(pmed) > bound and not (
            min(sign * -c for c in change) > max(sign * -p for p in parent)):
        v = "unresolved"
    else:
        v = "within bound"
    return wins, iqr, v


def report(bench, runs):
    for wl in sorted({r["workload"] for r in runs}):
        pairs, steal, seeds = {}, {}, {}
        for r in runs:
            if r["workload"] == wl:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
                steal.setdefault(r["pair"], {})[r["side"]] = r.get("steal_pct")
                seeds[r["pair"]] = r["seed"]
        done = [pairs[i] for i in sorted(pairs)
                if {"parent", "change"} <= set(pairs[i])]
        print(f"\n== {wl}: {len(done)} pairs, --seconds {SECONDS}")
        pct = lambda x: "-" if x is None else f"{x:.1f}%"
        for i in sorted(pairs):
            if {"parent", "change"} <= set(pairs[i]):
                print(f"  pair {i} seed {seeds[i]}: steal parent "
                      f"{pct(steal[i]['parent'])} change "
                      f"{pct(steal[i]['change'])}")
        for side in ("parent", "change"):
            att = sum(d[side].get("attempted", 0) for d in done)
            fail = sum(d[side].get("failed", 0) for d in done)
            ok = sum(1 for d in done if d[side].get("correct"))
            print(f"  {side:7s} failed/attempted {fail}/{att}  "
                  f"correct runs {ok}/{len(done)}")
        print(f"  {'metric':14s} {'parent q1/med/q3':>30s} "
              f"{'change q1/med/q3':>30s} {'wins':>6s} {'p.IQR':>9s}  verdict")
        for m in bench["end_to_end"]:
            name = m["name"]
            both = [d for d in done
                    if name in d["parent"].get("metrics", {})
                    and name in d["change"].get("metrics", {})]
            if not both:
                print(f"  {name:14s} (no samples)")
                continue
            p = [d["parent"]["metrics"][name]["value"] for d in both]
            c = [d["change"]["metrics"][name]["value"] for d in both]
            wins, iqr, v = verdict(p, c, m["better"], m["bound"])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {name:14s} {fmt(quartiles(p)):>30s} "
                  f"{fmt(quartiles(c)):>30s} {wins:>3d}/{len(both):<2d} "
                  f"{iqr:9.4g}  {v} (bound {m['bound']})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=7000)
    ap.add_argument("--workloads", default="",
                    help="comma-separated; default: every BENCHMARK.json workload")
    ap.add_argument("--out", help="append each run's result here (JSON lines)")
    ap.add_argument("--report", help="only print the comparison of this file")
    a = ap.parse_args()
    bench_root = a.change or os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))
    with open(os.path.join(bench_root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.report:
        with open(a.report) as fh:
            report(bench, [json.loads(l) for l in fh if l.strip()])
        return
    if not (a.parent and a.change):
        ap.error("--parent and --change are required unless --report is given")
    workloads = [w for w in a.workloads.split(",") if w] or \
        [w["name"] for w in bench["workloads"]]
    runs = []
    for wl in workloads:
        for i in range(a.pairs):
            seed = a.seed_base + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                checkout = a.parent if side == "parent" else a.change
                log(f"{wl} pair {i} seed {seed}: {side}")
                t0 = cpu_ticks()
                result = run_one(os.path.abspath(checkout), wl, seed)
                rec = {"workload": wl, "pair": i, "seed": seed, "side": side,
                       "steal_pct": steal_pct(t0, cpu_ticks()),
                       "result": result}
                runs.append(rec)
                if a.out:
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
    report(bench, runs)


if __name__ == "__main__":
    main()
