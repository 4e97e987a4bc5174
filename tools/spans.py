#!/usr/bin/env python3
"""Per-op-kind summary of a traced benchmark run's spans.

    python3 tools/spans.py .bench_build/spans-tsdb_rpc-seed11.jsonl
    python3 tools/spans.py PARENT.jsonl CHANGE.jsonl

A traced run (`perfbench/run.py --trace 1`) writes one JSON line per span:
its name, parent span, op id, duration and the Spark counts of the jobs it
started itself. For every span name (an op kind such as `rpc.insert`, or a
layer inside ops such as `GraftDB.insert` or `spark.collect`) this prints
the number of spans and the median over them of

  - jobs, stages and tasks, counted over the span and every span under it;
  - dur_ms, the span's wall time;
  - self_ms, its wall time minus the time its direct children cover.

Given two files, it prints each file's medians side by side (first → second)
for the names either file holds.
"""
import json
import statistics
import sys

COUNTS = ("jobs", "stages", "tasks")


def load(path):
    """name -> list of per-span rows (jobs, stages, tasks, dur_ms, self_ms)."""
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def total(s, k):
        return s["counts"].get(k, 0.0) + sum(total(c, k) for c in children.get(s["id"], []))

    rows = {}
    for s in spans:
        self_ms = s["dur_ms"] - sum(c["dur_ms"] for c in children.get(s["id"], []))
        rows.setdefault(s["name"], []).append(
            [total(s, k) for k in COUNTS] + [s["dur_ms"], self_ms])
    return rows


def medians(rows):
    return [len(rows)] + [statistics.median(col) for col in zip(*rows)]


def main():
    paths = sys.argv[1:]
    if len(paths) not in (1, 2):
        raise SystemExit(__doc__.split("\n\n")[1])
    sides = [load(p) for p in paths]
    names = sorted(set().union(*sides))
    head = ("n",) + COUNTS + ("dur_ms", "self_ms")
    print("%-28s " % "span" + " ".join("%15s" % h for h in head))
    for name in names:
        ms = [medians(side[name]) if name in side else None for side in sides]

        def cell(i):
            vals = ["-" if m is None else ("%d" % m[i] if i == 0 else "%.4g" % m[i]) for m in ms]
            return " → ".join(vals)
        print("%-28s " % name + " ".join("%15s" % cell(i) for i in range(len(head))))


if __name__ == "__main__":
    main()
