#!/usr/bin/env python3
"""Print each traced operation of a perfbench trace with its Spark jobs.

Usage:

    python3 tools/trace_ops.py perfbench/out/trace-zoom_etl-3.json \\
        [--kind read|write] [--name dept_activity] [--limit 5]

A traced run (`python3 perfbench/run.py ... --trace 1`) writes
`perfbench/out/trace-<workload>-<seed>.json` with its operations and
Spark jobs. A job belongs to the operation whose wall window holds the
job's start, the rule perfbench's per-layer metrics use. For every
traced operation the tool prints one header line (id, kind, name,
duration, job count), a line with its job overlap: busy time (the
union of its jobs' intervals), the sum of its job durations, and the
peak number of its jobs running at once; then one line per job: its
start offset from the operation's start, its duration, its task count
and its call site. A summary per kind follows: operations, mean jobs
per operation, mean busy and summed job time, the highest peak, and
job counts by call site, most frequent first.

The per-operation timeline shows where a change's saving lands: which
jobs an operation lost, and what its remaining time is spent on. Job
time summing to more than the busy time means jobs overlapped; busy
time well under the operation's duration means the driver worked
alone in between. The tool only reads the trace files.

With `--against OTHER.json` (a trace of the same workload and seed
from another commit) it prints, instead, one line per operation kind
and name: its count in each trace, then its median jobs, tasks and
busy time per operation, each as `OTHER -> TRACE`:

    python3 tools/trace_ops.py change/trace-zoom_etl-3.json \\
        --against parent/trace-zoom_etl-3.json
"""
import argparse
import collections
import json
import statistics


def load(path):
    with open(path) as f:
        t = json.load(f)
    ops = [o for o in t["ops"] if o["traced"] and o["ok"]]
    jobs = sorted(t["jobs"], key=lambda j: j["start_ms"])
    return ops, [j for j in jobs if j["end_ms"] >= 0]


def jobs_of(op, jobs):
    return [j for j in jobs if op["start_ms"] <= j["start_ms"] <= op["end_ms"]]


def overlap(js):
    """(busy ms, summed job ms, peak concurrent jobs) of jobs `js`."""
    busy, cur = 0, None
    for j in sorted(js, key=lambda j: j["start_ms"]):
        s, e = j["start_ms"], j["end_ms"]
        if cur is None or s > cur:
            busy += e - s
            cur = e
        elif e > cur:
            busy += e - cur
            cur = e
    # a job ending at the instant another starts does not overlap it
    edges = sorted([(j["start_ms"], 1) for j in js] +
                   [(j["end_ms"], -1) for j in js], key=lambda x: (x[0], x[1]))
    peak = run = 0
    for _, d in edges:
        run += d
        peak = max(peak, run)
    return busy, sum(j["end_ms"] - j["start_ms"] for j in js), peak


def per_name(ops, jobs):
    """{(kind, name): [(jobs, tasks, busy ms) per operation]}."""
    out = collections.defaultdict(list)
    for o in ops:
        js = jobs_of(o, jobs)
        out[(o["kind"], o["name"])].append(
            (len(js), sum(j["tasks"] for j in js), overlap(js)[0]))
    return out


def compare(ops, jobs, other_ops, other_jobs):
    """Print each operation name's median jobs, tasks and busy time per
    operation in the other trace and in this one, side by side."""
    mine, theirs = per_name(ops, jobs), per_name(other_ops, other_jobs)

    def med(rows, i):
        return f"{statistics.median(r[i] for r in rows):g}" if rows else "-"

    print(f"{'kind':5s} {'name':24s} {'ops':>9s} {'jobs/op':>12s} "
          f"{'tasks/op':>12s} {'busy ms/op':>14s}")
    for kind, name in sorted(set(mine) | set(theirs)):
        a, b = theirs.get((kind, name), []), mine.get((kind, name), [])
        cells = [f"{med(a, i)} -> {med(b, i)}" for i in range(3)]
        print(f"{kind:5s} {name:24s} {f'{len(a)} -> {len(b)}':>9s} "
              f"{cells[0]:>12s} {cells[1]:>12s} {cells[2]:>14s}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--kind", choices=("read", "write"))
    ap.add_argument("--name", help="only operations of this name")
    ap.add_argument("--limit", type=int, default=0,
                    help="print at most this many operations (0: all)")
    ap.add_argument("--against", metavar="OTHER",
                    help="compare per operation name with this trace")
    a = ap.parse_args()

    def selected(ops):
        return [o for o in ops if (a.kind is None or o["kind"] == a.kind)
                and (a.name is None or o["name"] == a.name)]

    ops, jobs = load(a.trace)
    ops = selected(ops)
    if a.against:
        other_ops, other_jobs = load(a.against)
        compare(ops, jobs, selected(other_ops), other_jobs)
        return
    by_kind = collections.defaultdict(list)
    for i, o in enumerate(ops):
        js = jobs_of(o, jobs)
        by_kind[o["kind"]].append(js)
        if a.limit and i >= a.limit:
            continue
        busy, summed, peak = overlap(js)
        print(f"op {o['id']} {o['kind']} {o['name']}: {o['ms']:.0f} ms, "
              f"{len(js)} jobs")
        print(f"  busy {busy} ms, job time {summed} ms, "
              f"peak {peak} concurrent")
        for j in js:
            print(f"  +{j['start_ms'] - o['start_ms']:6d} ms "
                  f"{j['end_ms'] - j['start_ms']:6d} ms "
                  f"{j['tasks']:4d} tasks  {j['call_site']}")
    for kind, per_op in sorted(by_kind.items()):
        n = len(per_op)
        sites = collections.Counter(j["call_site"] for js in per_op for j in js)
        ov = [overlap(js) for js in per_op]
        print(f"{kind}: {n} ops, "
              f"{sum(len(js) for js in per_op) / max(1, n):.2f} jobs/op, "
              f"busy {sum(o[0] for o in ov) / max(1, n):.0f} ms/op, "
              f"job time {sum(o[1] for o in ov) / max(1, n):.0f} ms/op, "
              f"peak {max((o[2] for o in ov), default=0)} concurrent")
        for site, c in sites.most_common():
            print(f"  {c:5d}  {site}")


if __name__ == "__main__":
    main()
