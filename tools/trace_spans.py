#!/usr/bin/env python3
"""Per-span layer table from perfbench trace files.

Reads one or two traces written by `perfbench/run.py --trace 1`
(`.bench_build/traces/trace-<workload>-<seed>.jsonl`, one span per line)
and prints, per span name, the mean over that name's spans of: wall time
minus the time paused on the listener bus (ms), jobs, stages, queries,
task CPU (ms), driver gap (ms) and shuffle bytes written. A span's counts
are the Spark work that ran while it was the innermost open span, so a
parent's counts exclude its children's. The `(per op)` row sums every
span's counts and divides by the number of operations.

Given a BEFORE and an AFTER trace, each name gets both rows and a `!`
flags every span whose mean jobs or stages grew.

Usage: trace_spans.py TRACE.jsonl
       trace_spans.py BEFORE.jsonl AFTER.jsonl
"""
import argparse
import json
from collections import defaultdict

COLS = [("ms", "ms"), ("jobs", "jobs"), ("stages", "stages"), ("queries", "queries"),
        ("task_cpu_ms", "cpu_ms"), ("driver_gap_ms", "gap_ms"), ("shuffle_write_bytes", "shuf_w_B")]
PER_OP = "(per op)"


def load(path):
    """Span name -> column -> mean, plus the per-op sums, in first-seen order."""
    sums = defaultdict(lambda: defaultdict(float))
    n = defaultdict(int)
    total = defaultdict(float)
    ops = set()
    order = []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            s = json.loads(line)
            name = s["name"]
            if name not in n:
                order.append(name)
            n[name] += 1
            ops.add(s["op"])
            sums[name]["ms"] += (s["end_ns"] - s["start_ns"] - s["paused_ns"]) / 1e6
            for k, _ in COLS[1:]:
                v = s["counts"].get(k, 0.0)
                sums[name][k] += v
                total[k] += v
    table = {name: {k: sums[name][k] / n[name] for k, _ in COLS} for name in order}
    per_op = {k: total[k] / max(len(ops), 1) for k, _ in COLS[1:]}
    per_op["ms"] = table.get("op", {}).get("ms", 0.0)
    table[PER_OP] = per_op
    n[PER_OP] = len(ops)
    return order + [PER_OP], table, n


def fmt(row):
    return "".join(f"{row.get(k, 0.0):>12.1f}" for k, _ in COLS)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("traces", nargs="+", metavar="TRACE")
    args = ap.parse_args()
    if len(args.traces) > 2:
        ap.error("give one trace, or a BEFORE and an AFTER trace")
    loaded = [load(p) for p in args.traces]
    names = list(loaded[0][0])
    for other, _, _ in loaded[1:]:
        names += [x for x in other if x not in names]
    w = 22 if len(loaded) == 1 else 30
    head = f"{'span':<{w}}{'n':>5}" + "".join(f"{h:>12}" for _, h in COLS)
    if len(loaded) == 2:
        print(f"before: {args.traces[0]}\nafter:  {args.traces[1]}")
        head = f"{'':2}{head}"
    print(head)
    for name in names:
        rows = [(t.get(name), cnt.get(name, 0)) for _, t, cnt in loaded]
        if len(rows) == 1:
            print(f"{name:<{w}}{rows[0][1]:>5}{fmt(rows[0][0])}")
            continue
        (b, nb), (a, na) = rows
        grew = b is not None and a is not None and (a["jobs"] > b["jobs"] or a["stages"] > b["stages"])
        flag = "! " if grew else "  "
        for tag, row, cnt in (("before", b, nb), ("after", a, na)):
            label = f"{name} [{tag}]"
            print(f"{flag}{label:<{w}}{cnt:>5}" + (fmt(row) if row is not None else f"{'absent':>12}"))
            flag = "  "


if __name__ == "__main__":
    main()
